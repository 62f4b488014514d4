package graft.trace

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.tools.Profile

class JobListenerSpec extends SparkSpec {

  /** Runs `body` with `listener` and a plain counting listener attached
    * and returns, once the events have drained, the tasks that ended,
    * the stages submitted and the stages the started jobs listed. */
  private def watch(listener: JobListener)(body: => Any): (Long, Long, Long) = {
    val (tasks, submitted, listed) = (new AtomicLong, new AtomicLong, new AtomicLong)
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = listed.addAndGet(e.stageInfos.size)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = submitted.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    val sc = spark.sparkContext
    def drained(): Unit = {
      var prev = -1L
      while (tasks.get + submitted.get + listed.get != prev) {
        prev = tasks.get + submitted.get + listed.get; Thread.sleep(200)
      }
    }
    sc.addSparkListener(listener); sc.addSparkListener(plain)
    try { body; drained() }
    finally { sc.removeSparkListener(plain); sc.removeSparkListener(listener) }
    (tasks.get, submitted.get, listed.get)
  }

  private def tagged[A](tag: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(JobListener.Key, tag)
    try body finally spark.sparkContext.setLocalProperty(JobListener.Key, null)
  }

  test("a shuffle reused by a second job is charged once, to the job that ran it") {
    val listener = new JobListener()
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val (tasks, submitted, listed) = watch(listener) {
      tagged("t") { df.collect(); df.collect() }
    }
    // the second collect lists the map stage but does not run it again
    assert(listed > submitted, s"no stage was shared: listed $listed, submitted $submitted")
    val rows = listener.jobRows("t")
    assert(rows.size >= 2 && rows.forall(_.end >= 0), rows.map(_.id))
    assert(rows.map(_.stages).sum == submitted)
    assert(rows.map(_.counts.tasks.get).sum == tasks)
    val t = listener.totals("t")
    assert(t.tasks.get == tasks && t.submitted.get == tasks)
    assert(rows.map(_.counts.taskMs.get).sum == t.taskMs.get)
    assert(listener.activeJobs("t") == 0)
  }

  test("jobs carrying a different tag, or no tag, are not counted") {
    val listener = new JobListener(Set("watched"))
    val sc = spark.sparkContext
    def job(): Long = sc.parallelize(1 to 30, 3).count() // one stage, 3 tasks
    def inGroup(g: String)(body: => Any): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    val (tasks, _, _) = watch(listener) {
      tagged("t")(job())
      tagged("other")(job())
      job()
      inGroup("unwatched")(job())
      inGroup("watched")(job())
    }
    assert(tasks == 15)
    assert(listener.jobRows("t").size == 1 && listener.totals("t").tasks.get == 3)
    assert(listener.jobRows("other").size == 1 && listener.totals("other").tasks.get == 3)
    // a watched group keeps counts, not rows, once its jobs end
    assert(listener.jobRows("watched").isEmpty && listener.totals("watched").tasks.get == 3)
    assert(listener.jobRows("unwatched").isEmpty && listener.totals("unwatched").tasks.get == 0)
    listener.reset("t")
    assert(listener.jobRows("t").isEmpty && listener.totals("t").tasks.get == 0)
    assert(listener.jobRows("other").size == 1, "a reset touches one tag only")
  }

  test("a watched group keeps no rows for its finished jobs: 200 jobs, no reset") {
    val listener = new JobListener(Set("watched"))
    val sc = spark.sparkContext
    val (tasks, _, _) = watch(listener) {
      sc.setJobGroup("watched", "watched")
      try (1 to 200).foreach(_ => sc.parallelize(1 to 4, 2).count())
      finally sc.clearJobGroup()
    }
    assert(tasks == 400)
    assert(listener.jobRows("watched").isEmpty && listener.activeJobs("watched") == 0)
    val t = listener.totals("watched")
    assert(t.tasks.get == 400 && t.submitted.get == 400)
  }

  test("a failed watched-group job still counts the tasks that end after it") {
    val listener = new JobListener(Set("watched"))
    val sc = spark.sparkContext
    watch(listener) {
      sc.setJobGroup("watched", "watched")
      // one task throws at once; its sibling ends after the job has failed
      try intercept[Exception] {
        sc.parallelize(0 until 2, 2).foreach { i =>
          if (i == 0) throw new IllegalStateException("boom") else Thread.sleep(1500)
        }
      } finally sc.clearJobGroup()
      Thread.sleep(2500) // the sibling's end, well past the job's
    }
    val t = listener.totals("watched")
    assert(t.submitted.get == 2 && t.tasks.get == 2, (t.submitted.get, t.tasks.get))
    assert(listener.jobRows("watched").isEmpty && listener.activeJobs("watched") == 0)
  }

  test("a Profile record's phases sum to its wall, with no error") {
    val r = Profile.profile(spark, sf0001, Seq("q08_order_topk")).head
    assert(r.err.isEmpty, r.err)
    assert(math.abs(r.buildS + r.optimizeS + r.planS + r.execS - r.wallS) < 1e-3, r.json)
    assert(r.optimizeS + r.planS > 0, "the write's planning phases must be read: " + r.json)
    assert(r.jobs.nonEmpty && r.jobs.forall(_.end >= 0), r.json)
    assert(r.driverGapS >= 0 && r.driverGapS <= r.wallS, r.json)
  }
}
