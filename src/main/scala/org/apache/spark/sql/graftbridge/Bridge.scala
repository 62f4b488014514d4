package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Column ⇄ Expression bridge, the file-scan pieces CSV inference
  * reads on the driver, and the session clone the in-memory tier
  * persists through. Spark 4 hides these behind private[sql];
  * extension libraries conventionally expose them from a file compiled
  * into the org.apache.spark.sql package tree (same technique the
  * ecosystem uses for custom Expressions). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rewrite an aggregate Column to its DISTINCT form (`avg(DISTINCT x)`,
    * `stddev_samp(DISTINCT x)`, …). Spark's DataFrame API only surfaces
    * distinct variants for count/sum; the engine needs it for every
    * aggregate (the dialect's per-aggregate btree dedup). Spark 4
    * Columns wrap ColumnNodes — flip isDistinct on the function node
    * (the sql-api shape every functions.* aggregate produces). */
  def distinctAgg(c: Column): Column = c.node match {
    case f: org.apache.spark.sql.internal.UnresolvedFunction =>
      Column(f.copy(isDistinct = true))
    case _ => throw new IllegalArgumentException(
      s"distinctAgg: not a function column: ${c.node}")
  }

  /** The file relation `df` reads. */
  def fileRelation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    } match {
      case Some(r: HadoopFsRelation) => r
      case other => throw new IllegalArgumentException(s"fileRelation: not a file relation: $other")
    }

  /** The file splits a scan of `rel` reads, in the order its
    * `FilePartition`s list them: the steps `FileSourceScanExec` takes
    * for an unbucketed relation (split each listed file at the max
    * split size, largest split first, then pack), without planning the
    * scan or broadcasting its reader. No job runs. */
  def filePartitions(rel: HadoopFsRelation): Seq[FilePartition] = {
    val spark = rel.sparkSession
    val dirs = rel.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap { d =>
      d.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          rel.fileFormat.isSplitable(spark, rel.options, f.getPath), maxSplit, d.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, splits, maxSplit)
  }

  /** A clone of `spark` with `confs` set on the clone only: it copies
    * the session's conf, functions and temporary views, and shares its
    * context and so its `CacheManager`. */
  def cloneSession(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** A frame over the analyzed `plan`, bound to `spark`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The error Spark's file sources raise when a path holds no file to
    * infer a schema from. */
  def unableToInferSchema(format: String): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError(format)
}
