package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.functions.CellKernels.csv_cell
import graft.sql.Durations

/** CSV source with the reference's schema-inference semantics
  * (reference utils.go:382-444, surveyed in SURVEY.md §1.3):
  *  - sample up to 10,000 rows, widening along the
  *    null < int < float < date < duration < string lattice;
  *  - "", "null", "NA" are nulls;
  *  - leading-zero integers (007) are forced to string (ID protection,
  *    reference utils.go:385-386);
  *  - a value parseable as both date and duration prefers duration;
  *  - headerless files (`nh`) get col1..colN names.
  *
  * The sample is a bounded driver-side read of the file head (10k
  * rows, the reference's bound, read locally as the reference reads
  * it, with no Spark job); the *cast* of the full data is one
  * distributed native expression per column (graft.functions.CsvCell),
  * so the scan itself stays parallel at any scale.
  */
object CsvSource {
  sealed abstract class LatType(val rank: Int)
  case object LNull extends LatType(0)
  case object LInt extends LatType(1)
  case object LFloat extends LatType(2)
  case object LDate extends LatType(3)
  case object LDur extends LatType(4)
  case object LStr extends LatType(5)

  /** Narrowest lattice type of one cell (reference getNarrowestType). */
  def narrowest(cell: String): LatType = {
    val v = cell.trim
    if (v.isEmpty || v.equalsIgnoreCase("null") || v == "NA") LNull
    else numeric(v) match {
      case null =>
        if (Durations.parse(v).isDefined) LDur
        else if (parseDate(v).isDefined) LDate
        else LStr
      case t => t
    }
  }

  /** The numeric shapes in one scan over ASCII digits: `[+-]?\d+` is
    * LInt, except an unsigned `0\d+` (a leading-zero id, reference
    * utils.go:385-386), which is LStr; `[+-]?(\d+\.?\d*|\.\d+)`
    * with an optional `[eE][+-]?\d+` is LFloat; anything else is null. */
  private def numeric(v: String): LatType = {
    val n = v.length
    def digitsFrom(i: Int): Int = {
      var j = i
      while (j < n && v.charAt(j) >= '0' && v.charAt(j) <= '9') j += 1
      j
    }
    val signed = v.charAt(0) == '+' || v.charAt(0) == '-'
    val a = if (signed) 1 else 0
    var i = digitsFrom(a)
    val intDigits = i - a
    if (i == n && intDigits > 0)
      return if (!signed && intDigits > 1 && v.charAt(0) == '0') LStr else LInt
    var mantissa = intDigits > 0
    if (i < n && v.charAt(i) == '.') {
      val j = digitsFrom(i + 1)
      mantissa ||= j > i + 1
      i = j
    }
    if (!mantissa) return null
    if (i < n && (v.charAt(i) == 'e' || v.charAt(i) == 'E')) {
      val s = if (i + 1 < n && (v.charAt(i + 1) == '+' || v.charAt(i + 1) == '-')) i + 2 else i + 1
      i = digitsFrom(s)
      if (i == s) return null
    }
    if (i == n) LFloat else null
  }

  /** Permissive date parsing (the reference uses dateparse.ParseAny) —
    * delegates to ParseAnyTimestamp so the sampler's classification
    * and the distributed cast share ONE pattern chain: a cell the
    * sampler calls a date always casts, and vice versa. Note the
    * lattice checks int BEFORE date, so all-digit cells (ids, epochs)
    * stay ints during inference; epoch forms only matter when a
    * date-typed context parses a literal. */
  def parseDate(v: String): Option[java.time.LocalDateTime] =
    Option(graft.functions.ParseAnyTimestamp.parseMicros(
      org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      .map(us => java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us.longValue, 1000000L),
        (Math.floorMod(us.longValue, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))

  /** Spark-side duration cast: `N unit` and compact Go forms
    * (`1h30m`, `-1h30m`, `100ms`) to DayTimeIntervalType — column
    * algebra, no UDF. The compound sign applies to the whole value,
    * matching Go ParseDuration and [[Durations.parse]]. */
  private def castDuration(c: Column): Column = {
    val t = trim(c)
    val numUnit = regexp_extract(t, "^(-?\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]+)$", 1)
    val unit = lower(regexp_extract(t, "^(-?\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]+)$", 2))
    val unitSecs = when(unit.isin("s", "second", "seconds"), 1L)
      .when(unit.isin("m", "minute", "minutes"), 60L)
      .when(unit.isin("h", "hour", "hours"), 3600L)
      .when(unit.isin("d", "day", "days"), 86400L)
      .when(unit.isin("w", "week", "weeks"), 7L * 86400L)
      .when(unit.isin("y", "year", "years"), 52L * 7L * 86400L) // y = 52w
    val simple = when(numUnit =!= "" && unitSecs.isNotNull,
      numUnit.cast(DoubleType) * unitSecs.cast(DoubleType))
    // compact Go style over the unsigned body; sign re-applied at the
    // end. try_cast everywhere: regexp_extract yields '' for absent
    // components and ANSI-mode cast('') would kill the scan.
    val body = regexp_replace(t, "^-", "")
    def part(re: String): Column =
      coalesce(regexp_extract(body, re, 1).try_cast(DoubleType), lit(0.0))
    val unsigned = part("(\\d+(?:\\.\\d+)?)h") * 3600 +
      part("(\\d+(?:\\.\\d+)?)m(?![s])") * 60 +
      // plain (\d+)s cannot false-match inside ms/us/ns: a letter, not a
      // digit, precedes their 's'
      part("(\\d+(?:\\.\\d+)?)s") +
      part("(\\d+(?:\\.\\d+)?)ms") / 1e3 +
      part("(\\d+(?:\\.\\d+)?)(?:us|µs)") / 1e6 +
      part("(\\d+(?:\\.\\d+)?)ns") / 1e9
    // ordered, at-most-once components: regexp_extract takes only the
    // first match per unit, so repeated units ('1h2h' — which Go sums)
    // must be rejected here → null, never a silently wrong value.
    // 'µs' accepted alongside 'us' — Go Duration.String() (and our
    // Sinks) EMIT µs, so saved output must re-ingest (Durations.parse
    // and this cast stay in sync).
    val goOk = body.rlike(
      "^(\\d+(?:\\.\\d+)?h)?(\\d+(?:\\.\\d+)?m)?(\\d+(?:\\.\\d+)?s)?" +
        "(\\d+(?:\\.\\d+)?ms)?(\\d+(?:\\.\\d+)?(?:us|µs))?(\\d+(?:\\.\\d+)?ns)?$") &&
      body.rlike("\\d")
    val go = when(goOk,
      when(t.startsWith("-"), -unsigned).otherwise(unsigned))
    val secs = coalesce(simple, go)
    when(secs.isNotNull, make_dt_interval(lit(0), lit(0), lit(0), secs))
  }

  /** Widest lattice type over one column's sampled cells (null cells
    * as ""). LStr is the top of the lattice, so classification stops
    * at the first cell that saturates the column — the remaining
    * cells cannot change the type, and every non-date string cell
    * would otherwise pay the full date-pattern chain in [[narrowest]].
    * Each distinct cell is classified once: sampled columns repeat
    * their values (TPC-H dates, flags, segments), and a date cell runs
    * the numeric scan, the duration parse and the date-pattern chain. */
  def columnType(cells: Iterator[String]): LatType = {
    val memo = new java.util.HashMap[String, LatType]()
    var acc: LatType = LNull
    while (acc != LStr && cells.hasNext) {
      val t = memo.computeIfAbsent(cells.next(), narrowest(_))
      if (t.rank > acc.rank) acc = t
    }
    acc
  }

  /** Rows the inference sample holds (reference utils.go:434). */
  val SampleRows = 10000

  /** Read a CSV with dialect inference. The inferred relation (the
    * driver-local head read and the type classification of [[infer]])
    * is resolved once per file version: it sits in the session's
    * [[graft.core.RelationCache]] under `csv:<header>:<path>` and is
    * revalidated against the path's stamp on every call, so a
    * rewritten file re-infers. Neither a hit nor a miss runs a Spark
    * job. From the second read of one local file's version on, the
    * relation is also served from the relation cache's typed in-memory
    * tier ([[graft.core.RelationCache.columnar]]): the statement of the
    * second read fills it, and later statements scan columnar batches
    * instead of the file's text.
    *
    * Only a single file is cached this way: a cached scan yields ""
    * for `input_file_name`, the first field of the dialect's scan-order
    * key, so a directory's rows would lose their (file, offset) order;
    * a single file's partitions already list its rows in byte order. */
  def read(spark: SparkSession, path: String, header: Boolean = true): DataFrame = {
    val stamp = graft.core.RelationCache.stamp(path)
    val df = graft.core.RelationCache.getOrBuild(spark, s"csv:$header:$path", stamp)(
      infer(spark, path, header))
    val rel = Bridge.fileRelation(df)
    graft.core.RelationCache.columnar(spark,
      s"csv:$header:${rel.location.rootPaths.mkString(",")}", stamp, df)
  }

  /** The CSV relation at `path` with a one-string-column placeholder
    * schema: the file listing the head read and the inferred relation
    * share. Resolving it lists the files and runs no job. */
  private[sources] def listing(spark: SparkSession, path: String,
      header: Boolean): HadoopFsRelation =
    Bridge.fileRelation(spark.read.option("header", header.toString)
      .schema("value STRING").csv(path))

  /** The column names and the first [[SampleRows]] records of the CSV
    * relation `rel`, exactly as Spark's own two inference jobs (the
    * header `take(1)` and `limit(SampleRows).collect()` over an
    * all-string read) would return them, but read on the driver with
    * no Spark job:
    *  - files are visited in the order the scan's `FilePartition`s list
    *    them, each split through Spark's line reader, so the sample is
    *    the scan's first records;
    *  - blank and comment lines are dropped, and each file's first
    *    split drops the file's header line, as the scan does;
    *  - the first remaining line of the first split that has one names
    *    the columns (Spark's `makeSafeHeader`; `col1..colN` for `nh`);
    *  - each line is tokenized by Spark's parser settings; a cell equal
    *    to the null value is null, and short rows pad with nulls.
    * A relation with no file fails as Spark's schema inference does. */
  private[sources] def head(rel: HadoopFsRelation,
      header: Boolean): (IndexedSeq[String], IndexedSeq[Array[String]]) = {
    if (rel.location.inputFiles.isEmpty) throw Bridge.unableToInferSchema("CSV")
    val spark = rel.sparkSession
    val conf = spark.sessionState.conf
    val options = new CSVOptions(rel.options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(rel.options)
    val parser = new CsvParser(options.asParserSettings)
    def tokens(line: String): Array[String] =
      Option(parser.parseLine(line)).getOrElse(Array.empty[String])
    var names: IndexedSeq[String] = null
    def name(line: String): Unit = if (names == null) names = {
      val t = tokens(line)
      if (header) CSVUtils.makeSafeHeader(t, conf.caseSensitiveAnalysis, options).toIndexedSeq
      else t.indices.map(i => s"col${i + 1}")
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val files = Bridge.filePartitions(rel).iterator.flatMap(_.files) // an empty file has none
    while (rows.size < SampleRows && files.hasNext) {
      val file = files.next()
      val reader = new HadoopFileLinesReader(file, options.lineSeparatorInRead, hadoopConf)
      try {
        val lines = reader.map(l => new String(l.getBytes, 0, l.getLength, options.charset))
        if (header && file.start == 0) CSVExprUtils.extractHeader(lines, options).foreach(name)
        val body = CSVExprUtils.filterCommentAndEmpty(lines, options).buffered
        if (body.hasNext) name(body.head)
        while (rows.size < SampleRows && body.hasNext) {
          val t = tokens(body.next())
          rows += Array.tabulate(names.size) { i =>
            if (i < t.length && t(i) != options.nullValue) t(i) else null
          }
        }
      } finally reader.close()
    }
    (Option(names).getOrElse(IndexedSeq.empty), rows.toIndexedSeq)
  }

  /** The inferred relation: the [[head]] sample classified per column,
    * over the listing's relation with the all-string schema the head
    * read named, so Spark runs no header job and lists the files once. */
  private def infer(spark: SparkSession, path: String, header: Boolean): DataFrame = {
    val rel = listing(spark, path, header)
    val (names, sample) = head(rel, header)
    val raw = spark.baseRelationToDataFrame(rel.copy(
      dataSchema = StructType(names.map(StructField(_, StringType))))(spark))
    val types = names.indices.map { i =>
      columnType(sample.iterator.map(row => if (row(i) == null) "" else row(i)))
    }

    // one native kernel per cell: trim, null recognition and the
    // parse in one pass. A cell outside the sampled type becomes null
    // instead of failing the scan (the reference zeroes unparseable
    // cells, selector.go:305-322 — null is our analog; one bad cell
    // must never kill a 100 TB read)
    val cols = raw.columns.zip(types).map { case (name, t) =>
      val c = col(name)
      (t match {
        case LNull | LStr => csv_cell(c, StringType)
        case LInt => csv_cell(c, LongType)
        case LFloat => csv_cell(c, DoubleType)
        case LDate => csv_cell(c, TimestampNTZType)
        case LDur => castDuration(csv_cell(c, StringType))
      }).as(name)
    }
    raw.select(cols.toSeq: _*)
  }
}
