package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

class MaterializeSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids persisted while `body` runs that are still persisted after it. */
  private def leftBy(body: => Any): Set[Int] = {
    val before = persisted
    body
    persisted -- before
  }

  private def frame(n: Int) = spark.range(n).toDF("v")

  test("a statement releases its cuts and reuses; nothing outlives it") {
    var r: org.apache.spark.sql.DataFrame = null
    val left = leftBy(Materialize.statement {
      val before = persisted
      val c = Materialize.cut(frame(10))
      r = Materialize.reuse(frame(20))
      assert(c.count() == 10 && r.count() == 20)
      assert((persisted -- before).nonEmpty, "the cut must be resident inside its statement")
      assert(r.storageLevel == StorageLevel.MEMORY_AND_DISK)
    })
    assert(left.isEmpty, s"left persisted: $left")
    assert(r.storageLevel == StorageLevel.NONE)
  }

  test("a throw inside a statement still releases") {
    var r: org.apache.spark.sql.DataFrame = null
    val left = leftBy {
      val e = intercept[IllegalStateException](Materialize.statement {
        Materialize.cut(frame(10))
        r = Materialize.reuse(frame(30))
        r.count()
        throw new IllegalStateException("boom")
      })
      assert(e.getMessage == "boom")
    }
    assert(left.isEmpty, s"left persisted: $left")
    assert(r.storageLevel == StorageLevel.NONE)
  }

  test("a cut made on a thread started inside a statement is released") {
    val left = leftBy(Materialize.statement {
      val before = persisted
      var n = -1L
      val t = new Thread(() => n = Materialize.cut(frame(7)).count())
      t.start(); t.join()
      assert(n == 7L)
      assert((persisted -- before).nonEmpty, "the thread's cut is resident until the statement ends")
      // a pool sized and started inside the statement, like IvfIndex's gather waves
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fs = (1 to 2).map(i => pool.submit(() => Materialize.cut(frame(i)).count()))
        assert(fs.map(_.get()).sum == 3L)
      } finally pool.shutdown()
    })
    assert(left.isEmpty, s"left persisted: $left")
  }

  test("nested statements each release only their own") {
    val left = leftBy(Materialize.statement {
      val before = persisted
      val outer = Materialize.cut(frame(5))
      val outerIds = persisted -- before
      val innerLeft = leftBy(Materialize.statement {
        assert(Materialize.cut(frame(6)).count() == 6)
        assert(Materialize.reuse(frame(8)).count() == 8)
      })
      assert(innerLeft.isEmpty, s"the inner statement left: $innerLeft")
      assert(persisted -- before == outerIds, "the outer cut survives the inner statement")
      assert(outer.count() == 5, "the outer cut is still readable")
    })
    assert(left.isEmpty, s"left persisted: $left")
  }

  test("release is idempotent and a no-op on frames Materialize did not make") {
    val table = spark.read.parquet(s"$sf0001/nation.parquet")
    Materialize.release(table) // a plain table frame: nothing to do
    val cached = table.cache()
    try {
      cached.count()
      val left = leftBy(Materialize.statement {
        Materialize.release(cached)
        // reuse of a frame cached by its caller leaves it to that caller
        assert(Materialize.reuse(cached) eq cached)
      })
      assert(left.isEmpty)
      assert(cached.storageLevel != StorageLevel.NONE, "the caller's cache must stay")
    } finally cached.unpersist()
    val c = Materialize.cut(frame(4))
    Materialize.release(c)
    Materialize.release(c)
    Materialize.release(frame(4))
  }

  test("outside any statement a materialization stays until released") {
    val before = persisted
    val c = Materialize.cut(frame(9))
    val r = Materialize.reuse(frame(11))
    r.count()
    Materialize.statement(()) // an unrelated statement releases nothing of it
    assert((persisted -- before).size == 2)
    assert(c.count() == 9)
    Materialize.release(c)
    Materialize.release(r)
    assert((persisted -- before).isEmpty)
    assert(r.storageLevel == StorageLevel.NONE)
  }

  test("an owned frame outlives every statement until released; the caller's conf stays") {
    val conf = spark.conf.getAll
    val df = frame(40).selectExpr("v", "v % 7 AS m")
    var held: org.apache.spark.sql.DataFrame = null
    val left = leftBy(Materialize.statement {
      held = Materialize.own(df)
      assert(df.filter("m = 3").count() == 6) // a plan over df reads, and fills, the cache
    })
    assert(spark.conf.getAll == conf)
    assert(left.size == 1, s"the statement must leave the owned cache: $left")
    assert(held.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK, "every plan of df matches the cache")
    Materialize.release(held)
    assert((persisted & left).isEmpty)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("src/main materializes only through Materialize and listens only through JobListener") {
    val root = Paths.get("src/main/scala")
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned too few sources under $root")
    def hits(pattern: String, allowed: String): Seq[String] = {
      val re = pattern.r
      files.filterNot(_.endsWith(allowed)).flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }
      }
    }
    val materializing = hits("""localCheckpoint\(|\.persist\(|\.cache\(\)|unpersist\(""",
      "graft/core/Materialize.scala")
    assert(materializing.isEmpty,
      "materialize through graft.core.Materialize:\n" + materializing.mkString("\n"))
    val listeners = hits("""new SparkListener|extends SparkListener""",
      "graft/trace/JobListener.scala")
    assert(listeners.isEmpty,
      "listen through graft.trace.JobListener:\n" + listeners.mkString("\n"))
  }
}
