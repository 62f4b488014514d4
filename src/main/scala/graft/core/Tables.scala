package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over a scale-factor directory of parquet tables
  * (TESTDATA.md). Plays the role of the reference's file registry
  * (reference utils.go:507-570) generalized to Spark sources: a name
  * resolves to a DataFrame; paths ending in .csv/.parquet are read
  * directly, bare names resolve inside the directory.
  *
  * Scale note: `spark.read.parquet` keeps partitioning/pushdown in
  * Catalyst's hands — filters and projections land in the scan
  * (PushedFilters / ReadSchema), which is what makes the same code
  * viable at 100 TB on a real cluster.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (hasExt(name)) normalizeNanoTs(load(spark, name))
    else {
      val path = s"$dir/$name.parquet"
      cached(spark, path)(normalizeNanoTs(spark.read.parquet(path)))
    }

  // Relation METADATA cache — see graft.core.RelationCache.
  // `spark.read.parquet` re-lists files and re-infers schema as a
  // driver job on every call, so a 5-table dialect statement paid 5
  // such jobs per execution. Entries are validated per hit against
  // RelationCache.stamp — an externally rewritten table re-resolves.

  // extension dispatch is case-INsensitive everywhere (GraftSession
  // lowercases keys, /files/ lists Data.XML as queryable) — match that
  private def ext(path: String): String = {
    val lower = path.toLowerCase
    val dot = lower.lastIndexOf('.')
    if (dot < 0) "" else lower.substring(dot + 1)
  }
  private val knownExts = Set("parquet", "csv", "json", "orc", "xml")
  private def hasExt(path: String): Boolean = knownExts.contains(ext(path))

  /** Normalize the `ts` column of the events fixture to TimestampType,
    * whatever precision/annotation the writer used:
    *  - TIMESTAMP(NANOS) parquet (unreadable natively in Spark 4) read
    *    with spark.sql.legacy.parquet.nanosAsLong=true surfaces as Long
    *    nanos; the stream is µs-valued so ns→µs is lossless;
    *  - plain µs TIMESTAMP with isAdjustedToUTC=false surfaces as
    *    TIMESTAMP_NTZ; every session pins spark.sql.session.timeZone
    *    to UTC, so the cast to TimestampType is exact.
    * Keeping this in ONE place means a fixture-writer change reddens
    * TablesContractSpec, not seven downstream call sites. */
  def normalizeNanoTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Load a direct path; CSV goes through the dialect-faithful
    * inference pass (graft.sources.CsvSource), which caches its own
    * inferred relation per file version. Every other format goes
    * through the same stamp-validated metadata cache as [[apply]]. */
  def load(spark: SparkSession, path: String): DataFrame =
    if (ext(path) == "csv") graft.sources.CsvSource.read(spark, path)
    else cached(spark, path) {
      ext(path) match {
        case "json" => spark.read.json(path)
        case "orc"  => spark.read.orc(path)
        // Spark 4 ships XML natively; <row> is this engine's row element
        case "xml"  => spark.read.option("rowTag", "row").xml(path)
        case _      => spark.read.parquet(path)
      }
    }

  private def cached(spark: SparkSession, path: String)
      (build: => DataFrame): DataFrame =
    RelationCache.getOrBuild(spark, s"tbl:$path", RelationCache.stamp(path))(build)
}
