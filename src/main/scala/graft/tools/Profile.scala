package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{Materialize, Sessions}
import graft.queries.Registry
import graft.server.JsonResult.esc
import graft.trace.JobListener

/** Where each query's time goes. After one untimed warm pass of every
  * query, it times one pass of what `graft.Bench` times (the registry
  * call, then a noop write) and splits its `wall_s` into `build_s`
  * (the registry call, jobs run while the frame is built included),
  * `optimize_s` and `plan_s` (the write's own, from Spark's
  * `QueryPlanningTracker`, so nothing is planned twice) and `exec_s`.
  * The record also lists the pass's jobs, their summed time and
  * `driver_gap_s`, the wall time when none of them ran.
  *
  * Usage: sbt "runMain graft.tools.Profile [out.json] [names…]"
  * (default: the bench queries; sf dir from `SPARK_GRAFT_SF_DIR`). */
object Profile {

  private val Tag = "profile" // prefix of the timed passes' `graft.trace` tags

  final case class Record(name: String, wallS: Double, buildS: Double,
      optimizeS: Double, planS: Double, execS: Double, start: Long,
      jobs: Seq[JobListener.Job], err: Option[String]) {
    private def done = jobs.filter(_.end >= 0)

    /** The wall minus the union of the jobs' intervals. */
    def driverGapS: Double = {
      var covered = 0L; var upTo = start
      done.map(j => (j.start, j.end)).sortBy(_._1).foreach { case (a, b) =>
        if (b > upTo) { covered += b - math.max(a, upTo); upTo = b }
      }
      wallS - covered / 1e3
    }

    def json: String = {
      def s(x: Double) = f"$x%.6f"
      def t(ms: Long) = s((ms - start) / 1e3)
      val rows = jobs.map { j =>
        val c = j.counts
        s"""{"id":${j.id},"site":"${esc(j.site)}","start_s":${t(j.start)},""" +
          s""""end_s":${if (j.end < 0) "null" else t(j.end)},"stages":${j.stages},""" +
          s""""tasks":${c.tasks.get},"task_s":${s(c.taskMs.get / 1e3)},""" +
          s""""input_bytes":${c.inputBytes.get},"shuffle_bytes":${c.shuffleBytes.get}}"""
      }
      s"""{"name":"$name","wall_s":${s(wallS)},"build_s":${s(buildS)},""" +
        s""""optimize_s":${s(optimizeS)},"plan_s":${s(planS)},"exec_s":${s(execS)},""" +
        s""""job_s":${s(done.map(j => j.end - j.start).sum / 1e3)},""" +
        s""""driver_gap_s":${s(driverGapS)},""" +
        s""""err":${err.fold("null")(e => "\"" + esc(e) + "\"")},"jobs":${rows.mkString("[", ",", "]")}}"""
    }
  }

  /** The noop-write option that names a timed pass. */
  private[tools] val Pass = "graft.profile.pass"

  /** Hands the noop write's planning tracker over from the listener
    * bus. That event follows all of the write's job events on the bus,
    * so once it is in, so are the jobs. Only the write of the armed
    * pass opens the latch: an earlier pass's write event may still be
    * queued when the next pass arms, and it carries another pass id. */
  private[tools] final class WriteListener extends QueryExecutionListener {
    @volatile private var pass = ""
    @volatile private var latch = new CountDownLatch(1)
    @volatile var tracker: Option[QueryPlanningTracker] = None
    def arm(id: String): Unit = { pass = id; tracker = None; latch = new CountDownLatch(1) }
    def await(seconds: Long): Boolean = latch.await(seconds, TimeUnit.SECONDS)
    private def seen(qe: QueryExecution): Unit = qe.analyzed match {
      case w: OverwriteByExpression if w.table.name == "noop-table" &&
          w.writeOptions.get(Pass).contains(pass) =>
        tracker = Some(qe.tracker); latch.countDown()
      case _ => ()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen(qe)
  }

  /** A noop write of `df` that names `pass`, as [[WriteListener]] matches it. */
  private[tools] def write(df: DataFrame, pass: String): Unit =
    df.write.format("noop").mode("overwrite").option(Pass, pass).save()

  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Record] = {
    val jobs = new JobListener()
    val writes = new WriteListener
    val sc = spark.sparkContext
    def build(name: String): DataFrame = Registry.queries(name)(spark, sfDir)
    names.foreach(n => try Materialize.statement(write(build(n), "warm")) catch { case _: Throwable => () })
    sc.addSparkListener(jobs)
    spark.listenerManager.register(writes)
    // each timed pass tags its jobs and its write with its own id, so a
    // job still running when one record is taken is never charged to
    // the next pass
    try names.zipWithIndex.map { case (name, i) =>
      val pass = s"$Tag:$i"
      sc.setLocalProperty(JobListener.Key, pass)
      writes.arm(pass)
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = -1L
      val err = try Materialize.statement {
        val df = build(name)
        t1 = System.nanoTime()
        write(df, pass); None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      val t2 = System.nanoTime()
      if (t1 < 0) { t1 = t2; Thread.sleep(500) } // no write: let build jobs drain
      else writes.await(60)
      val phases = writes.tracker.fold(Map.empty[String, Double])(
        _.phases.map { case (k, v) => k -> v.durationMs / 1e3 }).withDefaultValue(0.0)
      val (wall, buildS) = ((t2 - t0) / 1e9, (t1 - t0) / 1e9)
      val (opt, plan) = (phases(QueryPlanningTracker.OPTIMIZATION), phases(QueryPlanningTracker.PLANNING))
      Record(name, wall, buildS, opt, plan, wall - buildS - opt - plan, start, jobs.jobRows(pass), err)
    } finally {
      sc.setLocalProperty(JobListener.Key, null)
      spark.listenerManager.unregister(writes)
      sc.removeSparkListener(jobs)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Registry.benchQueries.map(_.name)
    val spark = Sessions.start()
    val json = profile(spark, sfDir, names).map(_.json).mkString("[\n", ",\n", "\n]\n")
    Files.write(Paths.get(args.headOption.getOrElse("PROFILE.json")),
      json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
