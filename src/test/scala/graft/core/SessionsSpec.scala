package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.IvfIndex
import graft.queries.Registry

/** The one session policy and the per-application work dir. */
class SessionsSpec extends SparkSpec {

  test("the shared test session carries the conf Sessions sets") {
    val conf = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "200000",
      "spark.ui.enabled" -> "false")
    conf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("s57_dialect_index writes its index under the work dir, not /tmp") {
    def legacy(): Map[String, Long] =
      Files.list(Paths.get("/tmp")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_s57_"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    val before = legacy()
    val report = Registry.queries("s57_dialect_index")(spark, sf0001).collect()
    assert(report.nonEmpty)
    val index = Sessions.workPath(spark, "s57", sf0001)
    assert(index.startsWith(Sessions.workDir(spark) + "/"))
    assert(Files.isDirectory(Paths.get(index, IvfIndex.SidecarDir)), index)
    assert(legacy() == before, "no /tmp/graft_s57_* entry may be written")
  }
}
