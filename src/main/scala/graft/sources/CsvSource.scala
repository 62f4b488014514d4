package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * The sample is a bounded driver-side collect (10k rows — same bound
  * as the reference); the *cast* of the full data is distributed
  * column algebra, so the scan itself stays parallel at any scale.
  */
object CsvSource {
  sealed abstract class LatType(val rank: Int)
  case object LNull extends LatType(0)
  case object LInt extends LatType(1)
  case object LFloat extends LatType(2)
  case object LDate extends LatType(3)
  case object LDur extends LatType(4)
  case object LStr extends LatType(5)

  private val leadingZeroInt = """^0\d+$""".r
  private val intRe = """^[+-]?\d+$""".r
  private val floatRe = """^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$""".r

  /** Narrowest lattice type of one cell (reference getNarrowestType). */
  def narrowest(cell: String): LatType = {
    val v = cell.trim
    if (v.isEmpty || v.equalsIgnoreCase("null") || v == "NA") LNull
    else if (leadingZeroInt.matches(v)) LStr
    else if (intRe.matches(v)) LInt
    else if (floatRe.matches(v)) LFloat
    else if (Durations.parse(v).isDefined) LDur
    else if (parseDate(v).isDefined) LDate
    else LStr
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

  /** Spark-side date cast mirroring [[parseDate]]'s pattern chain —
    * one native expression instead of an 8-way try_to_timestamp
    * coalesce (graft.functions.ParseAnyTimestamp). */
  private def castDate(c: Column): Column =
    graft.functions.ParseAnyTimestamp.parse_any_ts(c)

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

  private def nullify(c: Column): Column = {
    val t = trim(c)
    when(t === "" || lower(t) === "null" || t === "NA", lit(null)).otherwise(t)
  }

  /** Widest lattice type over one column's sampled cells (null cells
    * as ""). LStr is the top of the lattice, so classification stops
    * at the first cell that saturates the column — the remaining
    * cells cannot change the type, and every non-date string cell
    * would otherwise pay the full date-pattern chain in [[narrowest]]. */
  def columnType(cells: Iterator[String]): LatType = {
    var acc: LatType = LNull
    while (acc != LStr && cells.hasNext) {
      val t = narrowest(cells.next())
      if (t.rank > acc.rank) acc = t
    }
    acc
  }

  /** Read a CSV with dialect inference. The inferred relation (the
    * header job, the sample job and the type classification) is
    * resolved once per file version: it sits in the session's
    * [[graft.core.RelationCache]] under `csv:<header>:<path>` and is
    * revalidated against the path's stamp on every call, so a
    * rewritten file re-infers. Metadata only — every execution still
    * scans the file. */
  def read(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    graft.core.RelationCache.getOrBuild(spark, s"csv:$header:$path",
      graft.core.RelationCache.stamp(path))(infer(spark, path, header))

  private def infer(spark: SparkSession, path: String, header: Boolean): DataFrame = {
    val raw0 = spark.read
      .option("header", header.toString)
      .option("inferSchema", "false")
      .csv(path)
    val raw = if (header) raw0
      else raw0.toDF(raw0.columns.indices.map(i => s"col${i + 1}"): _*)

    // bounded sample (reference samples ≤10k rows, utils.go:434)
    val sample = raw.limit(10000).collect()
    val types = raw.columns.indices.map { i =>
      columnType(sample.iterator.map(row => if (row.isNullAt(i)) "" else row.getString(i)))
    }

    val cols = raw.columns.zip(types).map { case (name, t) =>
      val base = nullify(col(name))
      // try_cast: cells outside the sampled type become null instead of
      // failing the scan under ANSI mode (the reference zeroes
      // unparseable cells, selector.go:305-322 — null is our analog;
      // one bad cell must never kill a 100 TB read)
      (t match {
        case LNull | LStr => base
        case LInt => base.try_cast(LongType)
        case LFloat => base.try_cast(DoubleType)
        case LDate => castDate(base)
        case LDur => castDuration(base)
      }).as(name)
    }
    raw.select(cols.toSeq: _*)
  }
}
