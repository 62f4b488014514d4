package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** Shared session (one per suite, lazy), built by the engine's one
  * session policy with a fixed 4 cores. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    Sessions.builder(4).appName("graft-test").getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  private var suiteRoot: Path = _

  /** This suite's own temp dir, removed when the suite ends, so
    * suites never share a path and leave nothing behind. */
  def suiteDir: String = synchronized {
    if (suiteRoot == null) suiteRoot = Files.createTempDirectory("graft_spec")
    suiteRoot.toString
  }

  /** A new empty dir inside [[suiteDir]]. */
  def freshDir(prefix: String): Path =
    Files.createTempDirectory(Paths.get(suiteDir), prefix)

  override def afterAll(): Unit =
    try synchronized {
      if (suiteRoot != null)
        Files.walk(suiteRoot).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally super.afterAll()

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so the count is read once it has stopped moving —
    * before `body` (to drop earlier jobs' late events) and after it. */
  def jobsDuring(body: => Any): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def drained(): Int = {
      var prev = -1
      while (jobs.get != prev) { prev = jobs.get; Thread.sleep(200) }
      prev
    }
    spark.sparkContext.addSparkListener(listener)
    try { drained(); jobs.set(0); body; drained() }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}
