package graft.core

import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** The engine's session policy, in one place. Every entry point (Bench,
  * Verify, Cli, ServerMain, Explain and the tools) and the test suites
  * build their SparkSession here, so the plan the oracle checks is the
  * plan the bench times.
  *
  * Environment:
  *  - `SPARK_GRAFT_CPUS`: cores for `local[cpus]` and the shuffle
  *    partition count (default: the JVM's available processors);
  *  - `SPARK_MASTER`: overrides the `local[cpus]` master.
  *
  * Conf set, each because the engine relies on it:
  *  - `shuffle.partitions = cpus` — one reduce task per core;
  *  - UTC session time zone — timestamp gates hash-match DuckDB's UTC;
  *  - `parquet.nanosAsLong` — INT64 nanosecond `ts` columns read as
  *    longs, which [[Tables.normalizeNanoTs]] turns into timestamps;
  *  - the ObjectHashAggregate sort fallback at 200000 groups per task
  *    (the reason is at [[graft.sql.GraftSession]]'s own write of it);
  *  - no UI.
  * AQE is Spark's default and is not set. */
object Sessions {

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "200000")
      .config("spark.ui.enabled", "false")

  /** The session every main runs on, logging at `logLevel`. */
  def start(logLevel: String = "WARN"): SparkSession = {
    val spark = builder(defaultCpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Per-application scratch root for the files queries write (vector
    * indexes, query batches, bucketed tables). It sits under Spark's
    * own per-application directory inside `spark.local.dir`, so two
    * processes never share it and `spark.stop()` deletes it. `spark`
    * names the application whose directory this is. */
  def workDir(spark: SparkSession): String =
    s"${SparkFiles.getRootDirectory()}/graft"

  /** `<workDir>/<name>_<tag>`, where the tag is the hex hash of the
    * fixture dir, so one application can hold the same query's files
    * for several fixtures. */
  def workPath(spark: SparkSession, name: String, dir: String): String =
    s"${workDir(spark)}/${name}_${Integer.toHexString(dir.hashCode)}"
}
