package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.LinkedBlockingQueue

import scala.concurrent.ExecutionContext

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output sinks with the reference's value formatting
  * (reference value.go:494-497): floats as %.10g, timestamps as
  * "yyyy-MM-dd HH:mm:ss", durations Go-style. CSV save semantics per
  * reference files.go:85-180: `.csv` appended when missing, multi-query
  * saves suffixed `-N`.
  */
object Sinks {

  /** Format every column to its reference string form (distributed —
    * formatting happens in executors, not the driver). */
  def formatted(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case _: DoubleType | _: FloatType =>
          // %.10g with trailing zeros stripped (reference value.go:494)
          graft.functions.CellKernels.format_g10(c)
        case _: TimestampType | _: TimestampNTZType =>
          // reference formats dates with Go's "2006-01-02 15:04:05"
          // layout — seconds precision, fraction dropped (value.go:494);
          // NTZ is what CSV-inferred date columns carry
          date_format(c, "yyyy-MM-dd HH:mm:ss")
        case _: DayTimeIntervalType =>
          // Go Duration.String(): HhMmSs with units omitted when zero
          formatDuration(c)
        case _ => c.cast(StringType)
      }).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  private def formatDuration(c: Column): Column = {
    // Go Duration.String() in column algebra, µs-exact (Spark intervals
    // are microsecond-granular): all units below the leading one are
    // printed, one leading sign ("-1h30m0.5s"), sub-second values in
    // µs/ms forms with stripped fractions ("100ms", "1.5ms"). Mirrors
    // graft.sql.Durations.format — DurationsSpec cross-checks them.
    val us = (c.cast(DecimalType(20, 6)) * lit(1000000L)).cast(LongType) // exact total µs
    val a = abs(us)
    val sign = when(us < 0L, lit("-")).otherwise(lit(""))
    // whole."frac" with trailing zeros stripped; bare whole when frac=0
    def fracStr(whole: Column, part: Column, width: Int): Column =
      when(part === 0L, whole.cast(StringType)).otherwise(concat(
        whole.cast(StringType), lit("."),
        regexp_replace(lpad(part.cast(StringType), width, "0"), "0+$", "")))
    val subUs = concat(a.cast(StringType), lit("µs"))
    val subMs = concat(fracStr((a / 1000L).cast(LongType), a % 1000L, 3), lit("ms"))
    val h = (a / 3600000000L).cast(LongType)
    val m = ((a % 3600000000L) / 60000000L).cast(LongType)
    val secStr = fracStr(((a % 60000000L) / 1000000L).cast(LongType), a % 1000000L, 6)
    val hms = when(h > 0L,
        concat(h.cast(StringType), lit("h"), m.cast(StringType), lit("m"), secStr, lit("s")))
      .when(m > 0L, concat(m.cast(StringType), lit("m"), secStr, lit("s")))
      .otherwise(concat(secStr, lit("s")))
    when(c.isNull, lit(null)).otherwise(concat(sign,
      when(a === 0L, lit("0s"))
        .when(a < 1000L, subUs)
        .when(a < 1000000L, subMs)
        .otherwise(hms)))
  }

  /** Save as CSV at `path` (reference appends .csv when missing,
    * files.go:158-180) as ONE actual .csv FILE — a reference user
    * expects `out.csv` to be a file, not `out.csv/part-0000…`. The
    * server's `saveMode: "single"`. The rows go through the same
    * ordered writer as [[saveCsvStreaming]], into a sibling temp file
    * that one atomic rename puts over the target: a reader sees the
    * previous file or the complete new one, and a failed save leaves
    * the previous file as it was. Local filesystem only; the 100 TB
    * path is [[saveCsvDir]], which keeps parallel part files. */
  def saveCsv(df: DataFrame, path: String): String = {
    val (p, target) = localCsv(df, path, "saveCsv writes a single local .csv file")
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
      try writeOrdered(df, out) finally out.close()
      if (Files.isDirectory(target)) FileUtils.deleteDirectory(target.toFile)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    p
  }

  /** Parallel CSV save: every partition writes its own part file —
    * the 100 TB path (no single-task coalesce bottleneck). */
  def saveCsvDir(df: DataFrame, path: String): String = {
    formatted(df).write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("emptyValue", "") // bare empty, like the reference's Go csv.Writer
      .csv(path)
    path
  }

  /** Globally-shuffled training-shard writer: materializes the
    * t32_shard_layout addressing — shard by deterministic
    * multiplicative hash of `idCol`, position within shard by md5
    * order — as `shard=K/` parquet directories whose rows are stored
    * in `pos` order (repartition on shard + sortWithinPartitions, so
    * each shard's rows land in one sorted task; no global sort). A
    * training loader streaming shard files in order replays the same
    * hash-random global permutation on any cluster, every epoch. */
  def saveShards(df: DataFrame, idCol: String, nShards: Int,
      path: String): String = {
    import org.apache.spark.sql.functions._
    val shard = ((col(idCol) % lit(1000000L)) * lit(2654435761L)) % lit(nShards.toLong)
    df.withColumn("shard", shard)
      .withColumn("pos_key", md5(col(idCol).cast(org.apache.spark.sql.types.StringType)))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos_key"), col(idCol))
      .drop("pos_key")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    path
  }

  /** Physical writer for a `shard` STATEMENT's result (doc_id, shard,
    * pos): land `shard=K/` parquet dirs whose rows are stored in pos
    * order — same layout contract as [[saveShards]], but consuming the
    * already-addressed frame instead of recomputing the addressing
    * (the CLI's `--save-shards` path). One shard-key repartition +
    * in-partition sort; no global sort. */
  def saveShardedResult(df: DataFrame, path: String): String = {
    import org.apache.spark.sql.functions.col
    val cols = df.columns.map(_.toLowerCase).toSet
    require(cols.contains("shard") && cols.contains("pos"),
      "--save-shards needs a result with shard and pos columns (the `shard` statement's output)")
    df.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    path
  }

  /** Realtime single-file CSV save (reference files.go:85-156 streams
    * rows to the save file DURING execution, primed before the query
    * runs, main.go:124-131): the header lands immediately, then each
    * partition's rows are appended, in partition order, as soon as it
    * and every partition before it have finished — so a multi-hour scan
    * shows partial output on disk, like the reference, instead of
    * nothing until the end. Executors compute and render the
    * partitions in parallel, one job per window of
    * `defaultParallelism` partitions; the driver holds at most one
    * window's rendered partitions, and each job's results are capped by
    * `spark.driver.maxResultSize`. A failed task fails the call and
    * leaves the rows appended so far. CLI convenience form; the 100 TB
    * path remains [[saveCsvDir]]. */
  def saveCsvStreaming(df: DataFrame, path: String): String = {
    val (p, target) = localCsv(df, path, "saveCsvStreaming appends to a single local .csv file")
    if (Files.isDirectory(target)) FileUtils.deleteDirectory(target.toFile)
    val out = Files.newOutputStream(target) // truncates in place
    try writeOrdered(df, out) finally out.close()
    p
  }

  /** `path` with `.csv` appended when missing, and its local file; any
    * other filesystem fails fast, naming the parallel writer to use. */
  private def localCsv(df: DataFrame, path: String, what: String): (String, Path) = {
    val p = if (path.endsWith(".csv")) path else path + ".csv"
    val scheme = new org.apache.hadoop.fs.Path(p).getFileSystem(
      df.sparkSession.sessionState.newHadoopConf()).getScheme
    if (scheme != "file")
      sys.error(s"$what; path scheme '$scheme' is not local — use saveCsvDir " +
        "(parallel part files) instead")
    (p, Paths.get(p))
  }

  /** `df` as CSV into `out`: the header, flushed at once, then every
    * partition's lines in partition order. Each task renders its
    * partition to UTF-8 CSV bytes; one job runs per window of
    * `defaultParallelism` partitions, and the driver appends a
    * partition, with one flush, once it and all partitions before it
    * are in. A failed job cancels the window and throws. */
  private def writeOrdered(df: DataFrame, out: java.io.OutputStream): Unit = {
    val f = formatted(df)
    val ncols = f.columns.length
    out.write((f.columns.map(csvField).mkString("", ",", "\n")).getBytes(UTF_8))
    out.flush()
    val rdd = f.queryExecution.toRdd
    val sc = rdd.sparkContext
    val render = (rows: Iterator[InternalRow]) => {
      val sb = new java.lang.StringBuilder()
      rows.foreach { row =>
        var i = 0
        while (i < ncols) {
          if (i > 0) sb.append(',')
          if (!row.isNullAt(i)) sb.append(csvField(row.getUTF8String(i).toString))
          i += 1
        }
        sb.append('\n')
      }
      sb.toString.getBytes(UTF_8)
    }
    (0 until rdd.getNumPartitions).grouped(math.max(1, sc.defaultParallelism)).foreach { window =>
      val arrived = new LinkedBlockingQueue[Either[Throwable, (Int, Array[Byte])]]()
      val job = sc.submitJob(rdd, render, window,
        (i: Int, bytes: Array[Byte]) => arrived.put(Right(i -> bytes)), ())
      job.onComplete(_.failed.foreach(e => arrived.put(Left(e))))(ExecutionContext.parasitic)
      val parts = new Array[Array[Byte]](window.size)
      var next = 0
      try while (next < parts.length) {
        arrived.take() match {
          case Left(e) => throw e
          case Right((i, bytes)) => parts(i) = bytes
        }
        while (next < parts.length && parts(next) != null) {
          out.write(parts(next)); out.flush()
          parts(next) = null
          next += 1
        }
      } catch { case e: Throwable => job.cancel(); throw e }
    }
  }

  /** One CSV field — RFC-4180 quoting matching both Spark's writer
    * (with this object's options) and the reference's Go csv.Writer:
    * quote when the value carries a comma, quote, CR, or LF (embedded
    * quotes doubled); empty stays bare (Go never quotes empties — the
    * Spark writers set emptyValue="" to agree). */
  private def csvField(v: String): String =
    if (v.contains(",") || v.contains("\"") || v.contains("\n") || v.contains("\r"))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** Multi-query save paths: base, base-2, base-3 ...
    * (reference files.go:85-156). */
  def savePaths(base: String, n: Int): Seq[String] = {
    val stripped = base.replaceAll("\\.csv$", "")
    (1 to n).map(i => if (i == 1) s"$stripped.csv" else s"$stripped-$i.csv")
  }

  /** Print a result to stdout as CSV (CLI mode, reference main.go:149-158)
    * through the savers' ordered writer. Bounded by `limit` rows to keep
    * the driver safe. */
  def printCsv(df: DataFrame, limit: Int = 100000): Unit =
    writeOrdered(df.limit(limit), Console.out)
}
