package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native cell kernels for the CSV round trip. Both sides of a CSV
  * export and re-read are per-cell string work, and as column algebra
  * each cell paid several expressions (a `format_string` plus up to
  * three `regexp_replace` passes per double written; `trim`, `lower`
  * and a `try_cast` per cell read). Each kernel here does the same
  * work in one pass behind a single static call, so whole-stage
  * codegen keeps its span (the [[ParseAnyTimestamp]] pattern).
  * CellKernelsSpec pins both against the column-algebra forms they
  * replace. */
object CellKernels {

  // ---- writer: Go-form %.10g ------------------------------------------

  private val NaN = UTF8String.fromString("NaN")
  private val PosInf = UTF8String.fromString("Infinity")
  private val NegInf = UTF8String.fromString("-Infinity")
  private val Zero = UTF8String.fromString("0")
  private val NegZero = UTF8String.fromString("-0")

  /** `String.format("%.10g", d)` with trailing zeros stripped (the
    * reference's Go %.10g, value.go:494), built the way
    * java.util.Formatter builds it: the digits of `Double.toString`
    * rounded HALF_UP to 10 significant digits; fixed notation when
    * 1e-4 ≤ |rounded| < 1e10, else `d.ddde±XX`. A float is formatted
    * as the double it widens to, as Formatter does. */
  def formatG10(d: Double): UTF8String = {
    if (d != d) return NaN
    if (d == Double.PositiveInfinity) return PosInf
    if (d == Double.NegativeInfinity) return NegInf
    val neg = java.lang.Double.compare(d, 0.0) < 0 // -0.0 prints "-0"
    if (d == 0.0) return if (neg) NegZero else Zero
    // "123.45" or "1.2345E-5": collect the digits, the point's position
    // among them and the E exponent
    val s = java.lang.Double.toString(Math.abs(d))
    val dig = new Array[Byte](24)
    var n, point, exp = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == 'E') { exp = Integer.parseInt(s, i + 1, s.length, 10); i = s.length }
      else {
        if (c == '.') point = n else { dig(n) = c.toByte; n += 1 }
        i += 1
      }
    }
    var lead = 0
    while (dig(lead) == '0') lead += 1
    var e = point - lead - 1 + exp // decimal exponent of the first significant digit
    var end = n
    if (end - lead > 10) {
      val up = dig(lead + 10) >= '5'
      end = lead + 10
      if (up) {
        var j = end - 1
        while (j >= lead && dig(j) == '9') { dig(j) = '0'; j -= 1 }
        if (j >= lead) dig(j) = (dig(j) + 1).toByte
        else { dig(lead) = '1'; e += 1 } // 9.999999999|5 → 10
      }
    }
    while (end > lead + 1 && dig(end - 1) == '0') end -= 1
    val nd = end - lead
    val out = new Array[Byte](32)
    var o = 0
    @inline def put(b: Int): Unit = { out(o) = b.toByte; o += 1 }
    if (neg) put('-')
    if (e >= -4 && e < 10) {
      if (e >= 0) {
        var k = 0
        while (k <= e) { put(if (k < nd) dig(lead + k) else '0'); k += 1 }
        if (nd > e + 1) { put('.'); while (k < nd) { put(dig(lead + k)); k += 1 } }
      } else {
        put('0'); put('.')
        var z = -e - 1
        while (z > 0) { put('0'); z -= 1 }
        var k = 0
        while (k < nd) { put(dig(lead + k)); k += 1 }
      }
    } else {
      put(dig(lead))
      if (nd > 1) { put('.'); var k = 1; while (k < nd) { put(dig(lead + k)); k += 1 } }
      put('e'); put(if (e < 0) '-' else '+')
      val a = Math.abs(e)
      if (a >= 100) put('0' + a / 100)
      put('0' + a / 10 % 10); put('0' + a % 10)
    }
    UTF8String.fromBytes(out, 0, o)
  }

  // ---- reader: one CSV cell to its inferred type ----------------------

  /** Whether a cell is null once Spark's `trim` (ASCII spaces only — a
    * tab or NBSP stays) is applied: "", "NA" or "null" in any case
    * (reference utils.go:382-444). Read on the UTF-8 bytes; no
    * allocation. */
  private def isNullCell(s: UTF8String): Boolean = {
    var a = 0
    var b = s.numBytes
    while (a < b && s.getByte(a) == ' ') a += 1
    while (b > a && s.getByte(b - 1) == ' ') b -= 1
    b - a match {
      case 0 => true
      case 2 => s.getByte(a) == 'N' && s.getByte(a + 1) == 'A'
      case 4 => (s.getByte(a) | 0x20) == 'n' && (s.getByte(a + 1) | 0x20) == 'u' &&
        (s.getByte(a + 2) | 0x20) == 'l' && (s.getByte(a + 3) | 0x20) == 'l'
      case _ => false
    }
  }

  /** A string column's cell: trimmed, or null. */
  def text(s: UTF8String): UTF8String = if (isNullCell(s)) null else s.trim()

  private val Dot = UTF8String.fromString(".")

  /** An int column's cell into `out`; false for a null or an
    * unparseable cell. `try_cast(string AS BIGINT)` parses with
    * `toLongExact`, which is `toLong` refusing a fraction: a cell
    * without a '.' parses the same either way, and one with a '.'
    * never parses. */
  def parseLong(s: UTF8String, out: UTF8String.LongWrapper): Boolean =
    !isNullCell(s) && !s.contains(Dot) && s.toLong(out)

  /** A float column's cell into `out`, as its raw bits; false for a
    * null or an unparseable cell. `try_cast(string AS DOUBLE)`
    * semantics: `Double.parseDouble` on the trimmed cell, then Spark's
    * inf/nan literals, as the cast does. */
  def parseDouble(s: UTF8String, out: UTF8String.LongWrapper): Boolean =
    !isNullCell(s) && {
      val str = s.trim().toString
      val v = try java.lang.Double.parseDouble(str) catch {
        case _: NumberFormatException => Cast.processFloatingPointSpecialLiterals(str, false)
      }
      v match {
        case d: Double => out.value = java.lang.Double.doubleToRawLongBits(d); true
        case _ => false
      }
    }

  /** A date column's cell as epoch micros into `out`; false for a
    * null cell or one no [[ParseAnyTimestamp]] pattern matches. */
  def parseTimestamp(s: UTF8String, out: UTF8String.LongWrapper): Boolean =
    !isNullCell(s) && {
      val us = ParseAnyTimestamp.parseMicros(s.trim())
      us != null && { out.value = us; true }
    }

  // ---- column builders ------------------------------------------------

  import org.apache.spark.sql.graftbridge.Bridge

  /** A double or float column as its Go %.10g string. */
  def format_g10(c: Column): Column = Bridge.column(FormatG10(Bridge.expression(c)))

  /** A raw CSV string column as `to`: StringType, LongType, DoubleType
    * or TimestampNTZType. */
  def csv_cell(c: Column, to: DataType): Column =
    Bridge.column(CsvCell(Bridge.expression(c), to))

  private[functions] val Cls = getClass.getName.stripSuffix("$") + "$.MODULE$"
}

/** [[CellKernels.formatG10]] over a double or float column. */
case class FormatG10(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType | FloatType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"format_g10 needs a double or float input, got $t")
  }

  override def nullSafeEval(input: Any): Any = input match {
    case f: Float => CellKernels.formatG10(f.toDouble)
    case d: Double => CellKernels.formatG10(d)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${CellKernels.Cls}.formatG10((double) $c)")

  override protected def withNewChildInternal(newChild: Expression): FormatG10 =
    copy(child = newChild)
}

/** One CSV cell, nulls recognised and trimmed, parsed to `dataType` in
  * one pass: StringType ([[CellKernels.text]]), LongType, DoubleType or
  * TimestampNTZType (the `parse*` kernels). */
case class CsvCell(child: Expression, dataType: DataType) extends UnaryExpression {
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, dataType) match {
    case (_: StringType, _: StringType | LongType | DoubleType | TimestampNTZType) =>
      TypeCheckResult.TypeCheckSuccess
    case (from, to) => TypeCheckResult.TypeCheckFailure(s"csv_cell cannot read $from as $to")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val out = new UTF8String.LongWrapper
    dataType match {
      case _: StringType => CellKernels.text(s)
      case LongType => if (CellKernels.parseLong(s, out)) out.value else null
      case DoubleType =>
        if (CellKernels.parseDouble(s, out)) java.lang.Double.longBitsToDouble(out.value) else null
      case _ => if (CellKernels.parseTimestamp(s, out)) out.value else null
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = CellKernels.Cls
    // the parsed value comes back through a wrapper the generated
    // class keeps: no boxing per cell
    def parsed(method: String, value: String => String): ExprCode = {
      val out = ctx.addMutableState("UTF8String.LongWrapper", "cellOut",
        v => s"$v = new UTF8String.LongWrapper();")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.isNull} = !$cls.$method($c, $out); ${ev.value} = ${value(s"$out.value")};")
    }
    dataType match {
      case _: StringType => nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $cls.text($c); ${ev.isNull} = ${ev.value} == null;")
      case LongType => parsed("parseLong", identity)
      case DoubleType => parsed("parseDouble", v => s"Double.longBitsToDouble($v)")
      case _ => parsed("parseTimestamp", identity)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CsvCell =
    copy(child = newChild)
}
