package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Exact `double → scale-6 unscaled long` conversion — the per-row body
  * of DetSum128's compact path.
  *
  * Contract (pinned by DetDecSpec against the cast itself): for
  * |x| < 1e11, `unscaled6(x)` equals the unscaled long of
  * `cast(x as decimal(18,6))`, i.e. of
  * `java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)` — Spark's
  * double→decimal chain (shortest decimal representation that
  * round-trips to x, then HALF_UP at scale 6).
  *
  * Why a fast path is sound: `Double.toString(x)` returns SOME decimal
  * S in x's round-trip interval [x − ulp(x)/2, x + ulp(x)/2]. If that
  * whole interval, scaled by 10⁶, lies strictly inside one rounding
  * cell (n−½, n+½), then every decimal in it — shortest, exact binary
  * expansion, anything — is nearest to n with no tie, so HALF_UP(S)·10⁶
  * = n regardless of which S the JDK picked. The fast path verifies
  * exactly that: Y = x·10⁶ as an exact two-term sum (product + FMA
  * residual), n = rint of the rounded product, |Y − n| plus the scaled
  * half-ulp margin (plus a 1e-9 slop dominating the two rounding errors
  * in computing the distance) must stay below ½. Anything ambiguous —
  * values within half an ulp of a .0000005 boundary, magnitudes past
  * 4e9 where ulp(x)·10⁶ approaches ½ — takes the BigDecimal path, so
  * the fast path never has to reason about which digits toString
  * produced. |x| < 4e9 keeps |Y| < 4e15 < 2⁵², making rint, the long
  * conversion and the Sterbenz subtraction p − n all exact. */
object DetDec {
  def unscaled6(x: Double): Long = {
    val ax = math.abs(x)
    if (ax < 4.0e9) {
      val p = x * 1e6
      val err = Math.fma(x, 1e6, -p) // exact: x·1e6 = p + err
      val n = Math.rint(p) // exact integer-valued double
      val d = (p - n) + err // |rounding error| ≤ ulp(0.5)/2 ≪ slop
      val margin = Math.ulp(ax) * 5e5 + 1e-9
      if (Math.abs(d) + margin < 0.5) return n.toLong
    }
    slow(x)
  }

  private def slow(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}

/** Exact decimal(38,6) sum of a numeric column with an all-LONG
  * aggregation buffer — the Det.dsum hot path.
  *
  * Spark's `sum(cast(x as decimal(38,6)))` keeps a precision-38
  * buffer, which is BigDecimal-backed: every row pays
  * bytes→BigInteger→BigDecimal→add→bytes on the aggregation buffer —
  * measured ~0.3 s per aggregate per 600k-row task, ~3× the whole
  * scan, while double sums run at scan speed. This aggregate carries
  * the SAME exact sum as two 64-bit limbs of the value's scale-6
  * unscaled integer in base 10¹⁸ — pure long arithmetic per row,
  * fully codegen'd, fixed-width buffer (lo, hi, cnt):
  *
  *  - the COMPACT path (every |x| < 10¹²) extracts the unscaled long
  *    of `try_cast(x as decimal(18,6))` — the same scale-6 HALF_UP
  *    rounding the (38,6) cast applies — and adds it to the limbs;
  *  - the rare WIDE row (10¹² ≤ |x|) casts to decimal(38,6) exactly
  *    as today (same ANSI errors for NaN/Inf/≥10³²) and is split
  *    into (quotient, remainder) by 10¹² — two exact longs feeding
  *    the same limbs.
  *
  * total = (hi·10¹⁸ + lo)·10⁻⁶, every step exact and
  * order-independent — bit-identical to the decimal-sum chain (pinned
  * by DetSumAggSpec across signs, magnitudes, limb crossings, nulls,
  * partitionings). Null x rows are skipped; result is null iff no row
  * contributed — sum's contract. Out of contract only past |x| or
  * |sum| ≈ 9.2·10³⁰ (the hi limb's long range; Spark's own 38-digit
  * buffer overflows within two more orders) — unreachable at any
  * physical data scale.
  */
case class DetSum128(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private val dec38 = DecimalType(38, 6)
  private val dec18 = DecimalType(18, 6)
  private val Limb = 1000000000000000000L // 10^18 (unscaled) = 10^12 as a value

  override def prettyName: String = "det_sum128"
  override def dataType: DataType = dec38
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"det_sum128 needs a numeric column, got $other")
  }

  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val cnt = AttributeReference("cnt", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lo, hi, cnt)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L))

  private def limbDec = Literal(Decimal(1000000000000L, 13, 0), DecimalType(13, 0))

  override lazy val updateExpressions: Seq[Expression] = {
    // routing predicate: a plain double range compare, NOT the cast's
    // own null (conditional subexpressions are re-evaluated per
    // referencing slot in codegen, and the decimal cast is the per-row
    // cost — it must be referenced exactly once). The split point is
    // arbitrary for correctness (both paths are exact); 1e11 leaves a
    // 10× margin to the decimal(18,6) range so the guarded compact
    // cast can never overflow/throw. NaN/Inf compare false → wide
    // branch → the same (38,6) cast today's shape applies to them.
    val childD = if (child.dataType == DoubleType) child else Cast(child, DoubleType)
    val small = And(IsNotNull(child), LessThan(Abs(childD), Literal(1e11)))
    // compact: the scale-6 unscaled long (same HALF_UP rounding as the
    // (38,6) cast); evaluated only under `small`, so always in range.
    // For double children the per-row BigDecimal cast was the dominant
    // Det-aggregate term; DetDec.unscaled6 is the proven-
    // equivalent all-float conversion (guide §4 — codegen'd static
    // call, no per-row allocation). Other child types keep the Cast:
    // integral/decimal casts are long-backed and already cheap, and
    // float→decimal goes through the float's double VALUE's toString,
    // which DetDec does not model.
    val u = child.dataType match {
      case DoubleType =>
        StaticInvoke(DetDec.getClass, LongType, "unscaled6",
          Seq(child), Seq(DoubleType), returnNullable = false)
      case _ => UnscaledValue(Cast(child, dec18))
    }
    val w = Cast(child, dec38) // wide value — evaluated only under Ifs
    val q = IntegralDivide(w, limbDec) // long: value div 1e12 = unscaled div 1e18
    val rem = Subtract(w, Multiply(Cast(q, DecimalType(20, 0)), limbDec))
    val r = UnscaledValue(Cast(rem, dec18)) // |rem| < 1e12 → always fits
    // q is null only past |x| ≈ 9.2e30 under non-ANSI (out of contract
    // either way); guarding on it keeps the long limbs non-null
    val wideOk = And(And(IsNotNull(child), IsNotNull(w)), IsNotNull(q))
    val addLo = If(small, u, If(wideOk, r, Literal(0L)))
    val addHi = If(small, Literal(0L), If(wideOk, q, Literal(0L)))
    val contributed = If(small, Literal(1L), If(wideOk, Literal(1L), Literal(0L)))
    val s = Add(lo, addLo)
    val carry = IntegralDivide(s, Literal(Limb))
    Seq(
      Subtract(s, Multiply(carry, Literal(Limb))),
      Add(Add(hi, addHi), carry),
      Add(cnt, contributed))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val s = Add(lo.left, lo.right)
    val carry = IntegralDivide(s, Literal(Limb))
    Seq(
      Subtract(s, Multiply(carry, Literal(Limb))),
      Add(Add(hi.left, hi.right), carry),
      Add(cnt.left, cnt.right))
  }

  override lazy val evaluateExpression: Expression = {
    // total value = hi·10¹² + lo·10⁻⁶ — both terms exact decimals
    val hiVal = Multiply(Cast(hi, DecimalType(20, 0)), limbDec)
    val total = Cast(Add(hiVal, MakeDecimal(lo, 18, 6)), dec38)
    If(EqualTo(cnt, Literal(0L)), Literal(null, dec38), total)
  }

  override protected def withNewChildInternal(newChild: Expression): DetSum128 =
    copy(child = newChild)
}

object DetSumExprs {
  /** `sum(cast(x as decimal(38,6)))` with the long-limb hot path;
    * `x` is any numeric column (cast semantics match per type). */
  def det_sum(x: Column): Column =
    Bridge.column(DetSum128(Bridge.expression(x)).toAggregateExpression())
}
