package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import CellKernels.{csv_cell, format_g10}

/** Seeded inputs, a pure function of the row index so that executors
  * regenerate them. */
object CellCorpus {
  private def rnd(i: Long) = new java.util.SplittableRandom(20261018L * 1000003L + i)
  private def pow10(k: Int): Double = java.lang.Double.parseDouble(s"1e$k")

  val specials: Seq[Double] = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MaxValue, -Double.MaxValue, Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, 1e-4, -1e-4, 1e10, -1e10, 9999999999.5, 9999999999.4,
    9.9999999995e-5, 9.9999999994e-5, 0.30000000005, 1234567890.5, 0.1 + 0.2, 1e22, 1e23,
    0.5, 1.0, 100.0, 123456.789, 1e9, 1e-5, 5e-324, 2.5e-323)

  /** The specials first, then random bit patterns, 2-decimal money, values a few ulps around a
    * power of ten, 11-digit HALF_UP ties, subnormals, values that round
    * across the 1e-4 and 1e10 notation bounds, and scaled uniforms. */
  def double(i: Long): Double = if (i < specials.size) specials(i.toInt) else {
    val r = rnd(i)
    val sign = if (r.nextBoolean()) -1.0 else 1.0
    (i % 8).toInt match {
      case 0 | 1 => java.lang.Double.longBitsToDouble(r.nextLong())
      case 2 => r.nextLong(-100000000000L, 100000000000L) / 100.0
      case 3 =>
        var d = pow10(r.nextInt(-325, 309)) * sign
        var steps = r.nextInt(-3, 4)
        while (steps > 0) { d = Math.nextUp(d); steps -= 1 }
        while (steps < 0) { d = Math.nextDown(d); steps += 1 }
        d
      case 4 =>
        val m = r.nextLong(1000000000L, 10000000000L) * 10 + 5
        sign * java.lang.Double.parseDouble(s"${m}e${r.nextInt(-320, 290)}")
      case 5 => sign * java.lang.Double.longBitsToDouble(r.nextLong(1L, 1L << 52))
      case 6 =>
        val e = Seq(-5, -4, 9, 10)(r.nextInt(4))
        sign * java.lang.Double.parseDouble(s"9.99999999${r.nextInt(10, 100000)}e$e")
      case _ => sign * r.nextDouble() * pow10(r.nextInt(-8, 16))
    }
  }

  def float(i: Long): Float = if (i < specials.size) specials(i.toInt).toFloat else {
    val r = rnd(-1 - i)
    (i % 3).toInt match {
      case 0 => java.lang.Float.intBitsToFloat(r.nextInt())
      case 1 => r.nextInt(-10000000, 10000000) / 100f
      case _ => double(i).toFloat
    }
  }

  private val timestamps = Seq(
    "2020-01-02 10:11:12", "2020-01-02T10:11:12", "2020/01/02 10:11:12",
    "01/02/2020 10:11:12", "1/2/2020 3:04:05", "2020-01-02 10:11:12.5",
    "2020-01-02 10:11", "01/02/2020 10:11", "Thu Jan 2 10:11:12 2020",
    "Thu Jan  2 10:11:12 2020", "2020-01-02", "2020/01/02", "01/02/2020", "1/2/2020",
    "01-02-2020", "02-Jan-2020", "Jan 2 2020", "Jan 2, 2020", "FEB 3, 2013",
    "January 2 2020", "January 2, 2020", "2 Jan 2020", "2 January 2020", "2020.01.02",
    "02.01.2020", "2.1.2020", "2020-01", "1577959872", "1577959872000",
    "1577959872000000", "1577959872000000000", "20200102", "9999999999999999999",
    "2020-01-02T10:11:12Z", "2020-01-02T10:11:12+02:00", "2020-01-02 10:11:12.5+02:00",
    "2020-01-02 10:11:12 +02:00", "2020-01-02 10:11:12 +0000", "12-04", "2020-13-01",
    "  2020-01-02  ", "\t2020-01-02", "2020-01-02\u00A0", " Jan 2 2020")

  private val fixed: Seq[String] = Seq(null, "", " ", "  ", "\t", "\u00A0",
    "NA", "na", "Na", " NA ", "\tNA", "N/A", "null", "NULL", " NULL ", "Null", "nUlL",
    "nul", "nulll", "\tnull", "null\t", "\u00A0null", "none",
    "0", "5", "+5", "-5", " 5 ", "\t5", "5\t", "\u00A05", "5\u00A0", "\u00015", "5\u007f",
    "1.0", "1.5", "-1.5", "1.", ".5", "-.5", "+.5", "5.", "1e5", "1E5", "1e-5", "-1e+5",
    "1d", "1D", "1f", "1F", "0x10", "0x1p3", "0X1P-2", "007", "-007", "00", "-0", "-0.0",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "99999999999999999999", "123456789012345", "1234567890123456",
    "999999999999999.9", "12345678901234567890.5", "0.1", "0.30000000000000004",
    "3.141592653589793", "1.7976931348623157e308", "1e309", "-1e309", "4.9e-324",
    "1e-400", "0.000000000000001", "Infinity", "-Infinity", "+Infinity", "inf", "-inf",
    "+inf", "INF", "infinity", "NaN", "nan", "-nan", "+NaN", "NAN", " Infinity ",
    "\tInfinity", "+", "-", ".", "..", "1..2", "1.2.3", "--5", "+-5", "5-", "1,000",
    "1_000", "١٢٣", "٣.٥", "１２３", "abc", "x5",
    "5x", "12abc", "true", "1h30m", "5 minutes", "a,b", "  spaced  ") ++ timestamps

  /** Generated numeric-looking cells: signs, fractions, exponents and
    * space, tab or NBSP padding. */
  private def generated(i: Int): String = {
    val r = rnd(7L * i + 3)
    val sb = new StringBuilder
    def digits(n: Int): Unit = (0 until n).foreach(_ => sb.append(('0' + r.nextInt(10)).toChar))
    r.nextInt(4) match { case 0 => sb.append('-'); case 1 => sb.append('+'); case _ => }
    digits(r.nextInt(0, 20))
    if (r.nextInt(3) == 0) { sb.append('.'); digits(r.nextInt(0, 8)) }
    if (r.nextInt(5) == 0) { sb.append(if (r.nextBoolean()) 'e' else 'E'); digits(r.nextInt(0, 4)) }
    val pad = Seq("", "", "", " ", "  ", "\t", "\u00A0")
    pad(r.nextInt(pad.size)) + sb.toString + pad(r.nextInt(pad.size))
  }

  val cells: IndexedSeq[String] = (fixed ++ (0 until 4000).map(generated)).toIndexedSeq
}

/** The cell kernels against the column algebra they replace, kept here
  * as the oracle: the same bytes out of the formatter, the same values
  * out of the cell parser, interpreted and under whole-stage codegen. */
class CellKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The `%.10g` formatting `Sinks.formatted` used before the kernel. */
  private def oldG10(c: Column): Column = {
    val g = format_string("%.10g", c)
    val noExpZeros = regexp_replace(g, "\\.?0+e", "e")
    val plain = regexp_replace(regexp_replace(g, "(\\.\\d*?)0+$", "$1"), "\\.$", "")
    when(c.isNull, lit(null))
      .otherwise(when(g.contains("e"), noExpZeros).otherwise(plain))
  }

  /** The cell reading `CsvSource.infer` used before the kernel. */
  private def nullify(c: Column): Column = {
    val t = trim(c)
    when(t === "" || lower(t) === "null" || t === "NA", lit(null)).otherwise(t)
  }
  private def oldCell(c: Column, to: DataType): Column = to match {
    case StringType => nullify(c)
    case TimestampNTZType => ParseAnyTimestamp.parse_any_ts(nullify(c))
    case t => nullify(c).try_cast(t)
  }

  private def interpreted[A](body: => A): A = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def codegenSpans(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.size

  // generated from a range, not a local Seq: a project over a local
  // relation is folded on the driver, which would skip codegen
  private def doubles(n: Long): DataFrame =
    spark.range(0, n, 1, 8).map(i => CellCorpus.double(i)).toDF("v")
  private def floats(n: Long): DataFrame =
    spark.range(0, n, 1, 8).map(i => CellCorpus.float(i)).toDF("v")

  /** Rows where the kernel's bytes differ from the old expression's. */
  private def formatMismatches(df: DataFrame): Array[Row] =
    df.select(col("v"), oldG10(col("v")).as("old"), format_g10(col("v")).as("new"))
      .filter(!(col("old") <=> col("new"))).limit(10).collect()

  test("formatter: same bytes as format_string %.10g + regexp_replace, under codegen") {
    val (d, f) = (doubles(1000000L), floats(200000L))
    assert(codegenSpans(d.select(format_g10(col("v")))) > 0)
    val bad = formatMismatches(d) ++ formatMismatches(f)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("formatter: same bytes as format_string %.10g + regexp_replace, interpreted") {
    interpreted {
      val (d, f) = (doubles(200000L), floats(50000L))
      assert(codegenSpans(d.select(format_g10(col("v")))) == 0)
      val bad = formatMismatches(d) ++ formatMismatches(f)
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }

  test("formatter: pinned bytes, HALF_UP from the shortest digits, nulls stay null") {
    def g(v: Any): String = Option(FormatG10(Literal(v)).eval()).map(_.toString).orNull
    assert(g(0.30000000005) == "0.3000000001") // Go prints 0.3
    assert(g(1234567890.5) == "1234567891")    // Go prints 1234567890
    assert(g(0.1f) == "0.1000000015")          // the float widened to double
    assert(g(1e10) == "1e+10" && g(9999999999.5) == "1e+10" && g(9999999999.4) == "9999999999")
    assert(g(1e-4) == "0.0001" && g(9.9999999995e-5) == "0.0001" && g(1.5e-7) == "1.5e-07")
    assert(g(-0.0) == "-0" && g(0.0) == "0" && g(Double.NaN) == "NaN")
    assert(g(Double.NegativeInfinity) == "-Infinity" && g(Double.MinPositiveValue) == "4.9e-324")
    assert(g(Literal(null, DoubleType)) == null)
    val nulls = spark.range(4).select(
      when(col("id") % 2 === 0, col("id").cast(DoubleType)).as("v"))
    assert(nulls.select(format_g10(col("v"))).as[String].collect().toSeq ==
      Seq("0", null, "2", null))
  }

  private val parseTypes = Seq(StringType, LongType, DoubleType, TimestampNTZType)

  /** Cells whose kernel value differs from the old path's, per type. */
  private def parseMismatches(): Seq[String] = {
    val cells = spark.range(0, CellCorpus.cells.size, 1, 4)
      .map(i => CellCorpus.cells(i.toInt)).toDF("s")
    val df = cells.select(col("s") +: parseTypes.flatMap { t =>
      Seq(oldCell(col("s"), t), csv_cell(col("s"), t))
    }: _*)
    val rows = df.collect()
    assert(rows.length == CellCorpus.cells.size)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
      case _ => a == b
    }
    for {
      r <- rows.toSeq
      (t, k) <- parseTypes.zipWithIndex
      if !same(r.get(1 + 2 * k), r.get(2 + 2 * k))
    } yield s"${t.typeName} '${r.getString(0)}': old ${r.get(1 + 2 * k)}, kernel ${r.get(2 + 2 * k)}"
  }

  test("cell parser: same values as trim/null + try_cast/parse_any_ts, under codegen") {
    val one = spark.range(1).map(i => CellCorpus.cells(i.toInt + 30)).toDF("s")
      .select(parseTypes.map(t => csv_cell(col("s"), t)): _*)
    val plan = one.queryExecution.executedPlan
    val kernels = plan.collect { case w: WholeStageCodegenExec => w }.flatMap(_.collect {
      case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[CsvCell])) => p
    })
    assert(kernels.nonEmpty, s"the project of cell kernels must sit inside whole-stage codegen:\n$plan")
    val bad = parseMismatches()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("cell parser: same values as trim/null + try_cast/parse_any_ts, interpreted") {
    interpreted {
      val bad = parseMismatches()
      assert(bad.isEmpty, bad.mkString("\n"))
    }
  }
}
