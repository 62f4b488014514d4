package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.core.Sessions
import graft.queries.Registry

/** Per-JOB breakdown of one registry query (guide §1/§7): prints every
  * Spark job the query submits — start offset, duration, callsite —
  * so driver round-trips can be attributed to the code that issues
  * them. Diagnostic only.
  *
  * Usage: sbt "runMain graft.tools.JobTrace <query> [warm]"
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.head
    val spark = Sessions.start()

    case class J(id: Int, start: Long, var end: Long, site: String, stages: Int,
      stageIds: Set[Int], var taskSec: Double = 0.0, var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (record) jobs.synchronized {
          jobs.values.find(_.stageIds(sc.stageInfo.stageId)).foreach { j =>
            val m = sc.stageInfo.taskMetrics
            if (m != null) j.taskSec += m.executorRunTime / 1e3
            j.tasks += sc.stageInfo.numTasks
          }
        }
      override def onJobStart(j: SparkListenerJobStart): Unit = if (record) {
        val site = j.stageInfos.lastOption.map { si =>
          val caller = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("JobTrace"))
            .getOrElse(si.details.linesIterator.take(2).mkString(" | "))
          si.name.take(40) + "  @ " + caller.trim.take(90)
        }.getOrElse("?")
        jobs.synchronized {
          jobs(j.jobId) = J(j.jobId, j.time, -1L, site, j.stageInfos.size,
            j.stageInfos.map(_.stageId).toSet)
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (record) {
        jobs.synchronized { jobs.get(j.jobId).foreach(_.end = j.time) }
      }
    })

    def run(): Unit =
      Registry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    run() // warm
    jobs.clear()
    record = true
    val t0 = System.currentTimeMillis()
    run()
    val wall = (System.currentTimeMillis() - t0) / 1e3
    record = false
    Thread.sleep(300)
    println(f"=== $name wall=$wall%.3f s, ${jobs.size} jobs ===")
    jobs.values.toSeq.sortBy(_.start).foreach { j =>
      val dur = if (j.end > 0) (j.end - j.start) / 1e3 else Double.NaN
      println(f"job ${j.id}%3d  +${(j.start - t0) / 1e3}%6.3f  dur=$dur%6.3f  " +
        f"stages=${j.stages}  tasks=${j.tasks}%3d  tasksec=${j.taskSec}%6.3f  ${j.site}")
    }
    val covered = jobs.values.filter(_.end > 0).map(j => j.end - j.start).sum / 1e3
    println(f"sum(job durations)=$covered%.3f s; gap (driver-only) = ${wall - covered}%.3f s")
    spark.stop()
  }
}
