package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions
import graft.trace.JobListener

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

  private val jobTags = new AtomicInteger

  /** The Spark jobs `body` runs, by id, tagged through a [[JobListener]]
    * and read once every one of them has ended. */
  def jobRowsOf(body: => Any): Seq[JobListener.Job] = {
    val sc = spark.sparkContext
    val listener = new JobListener()
    val tag = s"spec-${jobTags.incrementAndGet()}"
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobListener.Key, tag)
      try body finally sc.setLocalProperty(JobListener.Key, null)
      var (prev, n) = (-1, 0)
      while ({ n = listener.jobRows(tag).size; n != prev || listener.activeJobs(tag) > 0 }) {
        prev = n; Thread.sleep(200)
      }
      listener.jobRows(tag)
    } finally sc.removeSparkListener(listener)
  }

  /** How many Spark jobs `body` runs, counted by [[jobRowsOf]]. */
  def jobsOf(body: => Any): Int = jobRowsOf(body).size

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
