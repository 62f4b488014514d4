package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.core.Sessions
import graft.queries.Registry

/** Measurement harness for the optimization rounds (guide §1): runs
  * each bench query once warm, then profiles one timed pass per query
  * with a stage listener, reporting wall seconds next to job / stage
  * counts, summed task time, shuffle bytes and input bytes — the
  * numbers that say whether a query's wall is compute or per-job /
  * per-shuffle fixed overhead. Diagnostic only; the driver contract
  * (graft.Bench) is untouched.
  *
  * Usage: sbt "runMain graft.tools.BenchProfile [out.json] [names…]"
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/bench_profile.json")
    val spark = Sessions.start()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val input = new AtomicLong(0L)
    val outputB = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          input.addAndGet(m.inputMetrics.bytesRead)
          outputB.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    })

    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Registry.benchQueries.map(_.name)
    def run(name: String): Unit = {
      spark.sparkContext.setJobDescription(s"profile: $name")
      Registry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.sparkContext.setJobDescription(null)
    }

    // warm-up pass (codegen/IO cache), untimed and unprofiled
    names.foreach(n => try run(n) catch { case _: Throwable => () })

    val rows = names.map { n =>
      jobs.set(0); stages.set(0); taskNanos.set(0L)
      shufWrite.set(0L); shufRead.set(0L); input.set(0L); outputB.set(0L)
      val t0 = System.nanoTime()
      val err = try { run(n); None } catch {
        case e: Throwable => Some(e.getMessage)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; give the bus a moment
      Thread.sleep(200)
      f"""{"name":"$n","wall":$wall%.3f,"jobs":${jobs.get},"stages":${stages.get},"tasksec":${taskNanos.get / 1e9}%.3f,"shuf_w_mb":${shufWrite.get / 1e6}%.2f,"shuf_r_mb":${shufRead.get / 1e6}%.2f,"input_mb":${input.get / 1e6}%.2f,"out_mb":${outputB.get / 1e6}%.2f,"err":${err.map(e => "\"" + e.replace("\"", "'").take(80) + "\"").getOrElse("null")}}"""
    }
    val json = rows.mkString("[\n", ",\n", "\n]")
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
