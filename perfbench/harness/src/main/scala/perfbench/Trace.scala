package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond digits, the clock Spark's listener events use, so
  * job intervals can be intersected with spans. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    start: Double, end: Double, attrs: Map[String, Any])

/** In-memory span recorder. Every Spark job started inside a span
  * carries the span id as the `perfbench.span` local property, so the
  * listener can charge jobs, stages and tasks to the innermost span of
  * the thread that started them. Nothing is written until the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble

  def now(): Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  /** Run `body` as span `name` of operation `op`; returns its value and
    * the span id (the parent of spans opened inside `body`). */
  def span[T](op: Int, name: String, parent: Int,
      attrs: => Map[String, Any] = Map.empty)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val outer = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    val t0 = now()
    try body(id)
    finally {
      val t1 = now()
      sc.setLocalProperty(Tracer.Key, outer)
      spans.add(Span(id, op, name, parent, t0, t1, attrs))
    }
  }

  /** Record a span whose attributes are only known after `body` ran. */
  def spanWith[T](op: Int, name: String, parent: Int)(body: Int => (T, Map[String, Any])): T = {
    var extra = Map.empty[String, Any]
    span(op, name, parent, extra) { id =>
      val (v, a) = body(id)
      extra = a
      v
    }
  }
}

object Tracer { val Key = "perfbench.span" }

/** Job, stage and task counts keyed by the span that started them.
  * Stages are charged from the stage-submission event, which carries
  * the local properties of the job that actually runs the stage: a
  * stage shared by several jobs runs once and is submitted once, so it
  * is counted once, for the job that ran it. Jobs started by the query
  * server's handler threads carry its job group instead of a span id;
  * they are kept under the group name. */
final class JobListener(serverGroup: String) extends SparkListener {
  import JobListener._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  val counters = new ConcurrentHashMap[String, Counters]()

  private def tagOf(props: java.util.Properties): String =
    if (props == null) null
    else Option(props.getProperty(Tracer.Key))
      .orElse(Option(props.getProperty("spark.jobGroup.id")).filter(_ == serverGroup))
      .orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) jobs.put(e.jobId, Job(e.jobId, tag, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = tagOf(e.properties)
    if (tag != null) stageTag.put(e.stageInfo.stageId, tag)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      val c = counters.computeIfAbsent(tag, _ => new Counters)
      c.tasks.incrementAndGet()
      c.taskMs.addAndGet(m.executorRunTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "tag" -> j.tag, "start" -> j.start, "end" -> j.end)
  }

  def counterRecords: Map[String, Map[String, Long]] = counters.asScala.toMap.map {
    case (k, c) => k -> Map("tasks" -> c.tasks.get, "task_ms" -> c.taskMs.get,
      "input_bytes" -> c.inputBytes.get, "input_records" -> c.inputRecords.get,
      "shuffle_bytes" -> c.shuffleBytes.get)
  }
}

object JobListener {
  final case class Job(id: Int, tag: String, start: Long, var end: Long = -1L)
  final class Counters {
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val inputBytes = new AtomicLong
    val inputRecords = new AtomicLong
    val shuffleBytes = new AtomicLong
  }
}
