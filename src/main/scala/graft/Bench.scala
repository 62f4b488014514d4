package graft

import graft.core.{Materialize, Sessions}
import graft.queries.Registry

/** Per-round benchmark: times the headline queries (Registry bench
  * flag) on SPARK_GRAFT_SF_DIR and prints ONE JSON line. Results are
  * materialized through the noop sink so projection/compute isn't
  * pruned away by a count-only plan; one untimed warm-up pass absorbs
  * JVM/codegen/IO-cache warmup.
  *
  * This box's per-query wall noise is roughly ±40% (SCALE_r4 notes) —
  * larger than most real round-over-round moves — so each query is
  * timed across `Runs` warm passes, INTERLEAVED (pass 1 runs every
  * query, then pass 2, …) so slow machine drift lands evenly on all
  * queries. Reported per-query value = median; `spread` = MAD (median
  * absolute deviation), so a regression is only credible when the
  * delta clears the spread. `value` is the sum of medians. */
object Bench {
  val Runs = 5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start()

    val bench = Registry.benchQueries
    def materialize(name: String): Unit = Materialize.statement {
      Registry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }

    // warm-up (untimed); per-query guard so one failure can't abort
    // the round's benchmark before the JSON line prints
    bench.foreach(q => try materialize(q.name) catch { case _: Throwable => () })

    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to Runs; q <- bench) {
      val t0 = System.nanoTime()
      try materialize(q.name)
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
      }
      samples(q.name) = samples(q.name) :+ (System.nanoTime() - t0) / 1e9
    }

    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = bench.map { q =>
      val xs = samples(q.name)
      val med = median(xs)
      (q.name, med, median(xs.map(x => math.abs(x - med))))
    }
    val qs = results.map { case (k, med, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val mads = results.map { case (k, _, mad) => "\"" + k + "\":" + mad }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$mads,"runs":$Runs,"sf":"$sfDir"}"""
    println(line)
    // the driver's stdout parser can lose the line to sbt log
    // prefixes (BENCH_r08 recorded "parsed": null) — mirror it to a
    // file so the metric survives whatever wraps stdout
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out"))
    java.nio.file.Files.write(out,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
