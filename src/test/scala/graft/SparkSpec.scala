package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

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
