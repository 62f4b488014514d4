package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.core.{Sessions, Tables}

/** Scaled fixture writer: `copies` key-shifted copies of every
  * [[graft.core.Tables.all]] table in `srcDir`, written as
  * `<outDir>/<name>.parquet` directories of many small-row-group files.
  * Every registry query reads its tables through `(spark, sfDir)`, so
  * `Bench` (SPARK_GRAFT_SF_DIR=<outDir>), `Verify <outDir> <out>` and
  * `scripts/check.py` run on the output unchanged: an N× measurement or
  * oracle gate over multi-file input, the shape scans meet at scale.
  *
  * Key columns move by `copy × KeyShift`, so every join on them
  * replicates inside a copy and never across copies; `region` and
  * `nation` (the dimension tables nothing shifts) are written once.
  * With `copies = 1` the rows are the source's rows, only split —
  * which is what makes an oracle run on it a partition-order check.
  *
  * Usage: runMain graft.tools.ScaleDir <srcDir> <copies> <outDir>
  */
object ScaleDir {
  /** Per-copy key offset; well above every fixture key at sf0.1. */
  private val KeyShift = 10000000L

  /** The shifted key columns; a table absent here is copied once. */
  private val keys: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The split rule: each copy of a shifted table is written as this
    * many files (fewer when the table has fewer rows), each cut into
    * row groups of `RowGroupBytes`, so a scan meets many splits and
    * row-group statistics. */
  private val FilesPerCopy = 16
  private val RowGroupBytes: Long = 256 * 1024

  def write(spark: SparkSession, srcDir: String, copies: Int, outDir: String): Unit = {
    require(copies >= 1, s"copies must be >= 1, got $copies")
    Tables.all.foreach { name =>
      // the raw read, not Tables(...): its events.ts normalization
      // would change the written type and so the oracle's input
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = s"$outDir/$name.parquet"
      keys.get(name) match {
        case None => base.write.mode("overwrite").parquet(out)
        case Some(ks) =>
          val perFile = math.max(1L, (base.count() + FilesPerCopy - 1) / FilesPerCopy)
          (0 until copies)
            .map(i => ks.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * KeyShift))))
            .reduce(_ unionAll _)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", perFile)
            .option("parquet.block.size", RowGroupBytes)
            .parquet(out)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println("usage: graft.tools.ScaleDir <srcDir> <copies> <outDir>")
      sys.exit(2)
    }
    val Array(srcDir, copies, outDir) = args
    val spark = Sessions.start()
    try write(spark, srcDir, copies.toInt, outDir)
    finally spark.stop()
  }
}
