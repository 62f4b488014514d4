package graft.trace

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** Spark jobs, stages and tasks, charged to the tag of the job that ran
  * them. A job's tag is its `graft.trace` local property or, failing
  * that, its job group when the group is one of `groups`; jobs with
  * neither are not counted.
  *
  * Stages are charged from the stage-submission event, which carries
  * the local properties of the job that actually runs the stage. A
  * stage shared by several jobs (a reused shuffle) runs once and is
  * submitted once, so it is charged once: to the lowest active job
  * that lists it, the job the DAG scheduler submits it for.
  *
  * Per tag it keeps running counts and one row per job; `reset` starts
  * a tag's window afresh. A job tagged by a watched group keeps its row
  * only while it runs, and a succeeded one drops its stages too. */
final class JobListener(groups: Set[String] = Set.empty) extends SparkListener {
  import JobListener._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, (String, Option[Job])]()
  private val byTag = new ConcurrentHashMap[String, Counts]()

  private def tagOf(props: java.util.Properties): String =
    if (props == null) null
    else Option(props.getProperty(Key))
      .orElse(Option(props.getProperty("spark.jobGroup.id")).filter(groups))
      .orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    // the result stage is created after its parents, so it has the
    // highest id; its name is the job's call site
    if (tag != null) jobs.put(e.jobId, new Job(e.jobId, tag,
      e.stageInfos.maxByOption(_.stageId).fold("")(_.name), e.time,
      e.stageInfos.map(_.stageId).toSet))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      // a watched group is read only through `totals` and `activeJobs`:
      // keeping its finished rows would grow without bound on a server
      // that never goes idle, and slow every stage submission's scan.
      // A failed or cancelled job's killed tasks end after the job
      // does, so its stages stay, to be counted, until the next reset.
      if (groups(j.tag)) {
        jobs.remove(j.id)
        if (e.jobResult == JobSucceeded) j.stageIds.foreach(stages.remove)
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) {
      val id = e.stageInfo.stageId
      val ran = jobs.values.asScala
        .filter(j => j.tag == tag && j.end < 0 && j.stageIds(id)).minByOption(_.id)
      stages.put(id, (tag, ran))
      ran.foreach(_.stages += 1)
      (totals(tag) +: ran.map(_.counts).toSeq)
        .foreach(_.submitted.addAndGet(e.stageInfo.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { case (tag, ran) =>
      (totals(tag) +: ran.map(_.counts).toSeq).foreach(_.add(e.taskMetrics))
    }

  /** Jobs of `tag` still running. */
  def activeJobs(tag: String): Int = jobs.values.asScala.count(j => j.tag == tag && j.end < 0)

  /** `tag`'s counts since its last reset. */
  def totals(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  /** `tag`'s jobs since its last reset, by id. */
  def jobRows(tag: String): Seq[Job] = jobs.values.asScala.filter(_.tag == tag).toSeq.sortBy(_.id)

  /** Drop `tag`'s counts, finished jobs and stages: a task that ends
    * later, in a stage submitted before the reset, is not counted. */
  def reset(tag: String): Unit = {
    byTag.remove(tag)
    jobs.values.removeIf(j => j.tag == tag && j.end >= 0)
    stages.values.removeIf(_._1 == tag)
  }
}

object JobListener {
  /** The local property that tags a thread's jobs. */
  val Key = "graft.trace"

  /** Tasks submitted and ended, with the ended tasks' run time and
    * input and shuffle-read bytes. */
  final class Counts {
    val submitted, tasks, taskMs, inputBytes, shuffleBytes = new AtomicLong

    private[JobListener] def add(m: TaskMetrics): Unit = {
      tasks.incrementAndGet()
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  /** One job. Times are the driver's epoch milliseconds; `end` is -1
    * while it runs. `stages` counts the stages it ran. */
  final class Job(val id: Int, val tag: String, val site: String, val start: Long,
      private[JobListener] val stageIds: Set[Int]) {
    @volatile var end: Long = -1L
    @volatile var stages: Int = 0
    val counts = new Counts
  }
}
