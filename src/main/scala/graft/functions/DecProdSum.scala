package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Exact Σ a·b over two DECIMAL(18,6) columns with an all-long buffer —
  * [[DecSum6]]'s primitive-accumulation trick extended to PRODUCTS.
  *
  * The moment/correlation queries sum decimal products: (18,6)·(18,6) is
  * DECIMAL(37,12), past `Decimal.MAX_LONG_DIGITS`, so the builtin path
  * pays a JavaBigDecimal multiply per row plus the non-compact sum
  * buffer's serialize/deserialize round-trip per update — measured as
  * q86's entire 1.0 s single-task CPU at sf0.1 (~1.7 µs/row;
  * OPTIMIZATION_r20.md).
  *
  * Identical-value construction: both engines first round each input to
  * 6 decimals (the (18,6) cast), so a·b is a rational with ≤12 fractional
  * digits determined by the two unscaled longs, u_a·u_b at scale 12.
  * Split each unscaled long at 10⁶: u = h·10⁶ + l (Java truncating `/`,`%`
  * — the identity holds for any sign). Then
  *
  *   u_a·u_b = h_a·h_b·10¹² + (h_a·l_b + l_a·h_b)·10⁶ + l_a·l_b
  *
  * and the three component sums S₂, S₁, S₀ accumulate in carry-normalized
  * (hi, lo) long pairs exactly as DecSum6 (base 10⁹, |lo| < 10⁹; per-row
  * hi deltas are ≤ ~10³ so only the running hi add needs the sign-rule
  * overflow guard). evaluate() reassembles S₂ + S₁·10⁻⁶ + S₀·10⁻¹² exactly
  * in DECIMAL(37,12) pieces (every add is nominal (38,12) — inside Spark's
  * no-precision-loss bound — and each partial is cast back to (37,12),
  * exact under the domain guard below), then widens to the builtin sum's
  * (38,12) result type, so the enclosing double cast is bit-identical to
  * `sum(a*b)` (DecProdSumSpec pins equality across sign mixes, nulls and
  * repartitionings).
  *
  * NULL semantics match `sum(a*b)`: a row contributes iff BOTH sides are
  * non-null (a null side multiplies to a null product, an exact no-op on
  * the buffer via the coalesce-to-zero spelling — If-free so the unscaled
  * reads stay CSE-shared); the result is NULL iff no row ever contributed.
  *
  * Overflow/domain policy (same safe direction as DecSum6, NULL never a
  * wrong value): the per-row limb products stay inside a long only while
  * |h| < 2³¹ on both sides (|value| ≲ 2.1·10⁹ — money/measure columns are
  * orders below; a row past it sets the sticky `ovf`), and evaluate
  * additionally NULLs when any |hi| > 10¹⁵ (component sums past ~10²⁴
  * value units — the exact-reassembly budget; a 100 TB Σprice² is ~10²¹,
  * three orders inside). The builtin would return a finite value in some
  * of that NULLed band; the divergence is reach-NULL-earlier only.
  */
case class DecProdSum(left: Expression, right: Expression)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  private val M = 1000000000L // carry base 10^9, as DecSum6
  private val S = 1000000L    // limb split 10^6 (the scale factor)

  override def prettyName: String = "dec_prod_sum"
  override def dataType: DataType = DecimalType(38, 12)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (a: DecimalType, b: DecimalType)
          if a.precision == 18 && a.scale == 6 && b.precision == 18 && b.scale == 6 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dec_prod_sum requires two DECIMAL(18,6) inputs, got $other")
    }

  private lazy val hi2 = AttributeReference("hi2", LongType, nullable = false)()
  private lazy val lo2 = AttributeReference("lo2", LongType, nullable = false)()
  private lazy val hi1 = AttributeReference("hi1", LongType, nullable = false)()
  private lazy val lo1 = AttributeReference("lo1", LongType, nullable = false)()
  private lazy val hi0 = AttributeReference("hi0", LongType, nullable = false)()
  private lazy val lo0 = AttributeReference("lo0", LongType, nullable = false)()
  private lazy val empty = AttributeReference("empty", BooleanType, nullable = false)()
  private lazy val ovf = AttributeReference("ovf", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi2, lo2, hi1, lo1, hi0, lo0, empty, ovf)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(0L), Literal(0L), Literal(0L),
      Literal(0L), Literal(true), Literal(false))

  private def mLit = Literal(M)

  private def addOverflows(a: Expression, b: Expression, s: Expression): Expression =
    LessThan(BitwiseAnd(BitwiseXor(a, s), BitwiseXor(b, s)), Literal(0L))

  /** One carry-normalized accumulation step: (hi, lo) += t. Returns
    * (hiNew, loNew, hiOverflowed). Per-row |t| ≤ 10¹² so |t/M| ≤ 10³ and
    * the delta itself cannot wrap — only hi + d is guarded.
    */
  private def step(hiA: Expression, loA: Expression, t: Expression)
      : (Expression, Expression, Expression) = {
    val tt = Add(loA, new Remainder(t, mLit))
    val d = Add(new IntegralDivide(t, mLit), new IntegralDivide(tt, mLit))
    val hiNew = Add(hiA, d)
    (hiNew, new Remainder(tt, mLit), addOverflows(hiA, d, hiNew))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val ua = UnscaledValue(left)
    val ub = UnscaledValue(right)
    // a null side coalesces to 0, so BOTH its limbs are 0 and every term
    // (t2 = ha·hb, t1 = ha·lb + la·hb, t0 = la·lb) carries a zero factor —
    // an exact no-op on the buffer with no If (codegen CSE keeps ua/ub
    // shared across the null test and the limb math, per the DecSum6 note)
    val bothNull = Or(IsNull(ua), IsNull(ub))
    val za = Coalesce(Seq(ua, Literal(0L)))
    val zb = Coalesce(Seq(ub, Literal(0L)))
    val sLit = Literal(S)
    val ha = new IntegralDivide(za, sLit)
    val la = new Remainder(za, sLit)
    val hb = new IntegralDivide(zb, sLit)
    val lb = new Remainder(zb, sLit)
    val t2 = Multiply(ha, hb)
    val t1 = Add(Multiply(ha, lb), Multiply(la, hb))
    val t0 = Multiply(la, lb)
    val (h2, l2, o2) = step(hi2, lo2, t2)
    val (h1, l1, o1) = step(hi1, lo1, t1)
    val (h0, l0, o0) = step(hi0, lo0, t0)
    // per-row limb-product domain: |h| must stay under 2^31 on both sides
    // or t2/t1 could wrap inside the row — sticky NULL beyond (|value| >
    // ~2.1e9), never a wrapped value
    val lim = Literal(2147483648L)
    val rowOvf = Or(
      GreaterThanOrEqual(Abs(ha), lim), GreaterThanOrEqual(Abs(hb), lim))
    Seq(h2, l2, h1, l1, h0, l0,
      And(empty, bothNull),
      Or(ovf, Or(rowOvf, Or(o2, Or(o1, o0)))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    def mergeOne(hiA: Expression, hiB: Expression, loA: Expression, loB: Expression)
        : (Expression, Expression, Expression) = {
      val t = Add(loA, loB)
      val c = new IntegralDivide(t, mLit)
      val s2 = Add(hiA, hiB)
      val hiNew = Add(s2, c)
      (hiNew, new Remainder(t, mLit),
        Or(addOverflows(hiA, hiB, s2), addOverflows(s2, c, hiNew)))
    }
    val (h2, l2, o2) = mergeOne(hi2.left, hi2.right, lo2.left, lo2.right)
    val (h1, l1, o1) = mergeOne(hi1.left, hi1.right, lo1.left, lo1.right)
    val (h0, l0, o0) = mergeOne(hi0.left, hi0.right, lo0.left, lo0.right)
    Seq(h2, l2, h1, l1, h0, l0,
      And(empty.left, empty.right),
      Or(Or(ovf.left, ovf.right), Or(o2, Or(o1, o0))))
  }

  override lazy val evaluateExpression: Expression = {
    // exact-reassembly budget: every piece and every partial sum must fit
    // DECIMAL(37,12) (25 integer digits) so each Add is nominal (38,12) —
    // no Spark precision-loss adjustment ever fires
    val budget = Literal(1000000000000000L) // 10^15
    val outOfBudget = Or(GreaterThan(Abs(hi2), budget),
      Or(GreaterThan(Abs(hi1), budget), GreaterThan(Abs(hi0), budget)))
    val d3712 = DecimalType(37, 12)
    def dec(v: String, p: Int, s: Int) =
      Literal(Decimal(BigDecimal(v)), DecimalType(p, s))
    // value-unit contributions: S2 counts 1s, S1 counts 1e-6, S0 counts
    // 1e-12; each S_i = hi_i·1e9 + lo_i
    val pieces: Seq[Expression] = Seq(
      Multiply(Cast(hi2, DecimalType(19, 0)), dec("1000000000", 10, 0)),  // (30,0)
      Cast(lo2, DecimalType(10, 0)),
      Multiply(Cast(hi1, DecimalType(19, 0)), dec("1000", 4, 0)),         // (24,0)
      Multiply(Cast(lo1, DecimalType(10, 0)), dec("0.000001", 6, 6)),     // (17,6)
      Multiply(Cast(hi0, DecimalType(19, 0)), dec("0.001", 3, 3)),        // (23,3)
      Multiply(Cast(lo0, DecimalType(10, 0)), dec("0.000000000001", 12, 12))) // (23,12)
    val total = pieces.map(Cast(_, d3712))
      .reduceLeft((acc, p) => Cast(Add(acc, p), d3712))
    If(Or(empty, Or(ovf, outOfBudget)),
      Literal(null, dataType), Cast(total, dataType))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecProdSum =
    copy(left = newLeft, right = newRight)
}

object DecProdSum {
  /** Column-level constructor, registry-free (like [[DecSum6.column]]). */
  def column(a: Column, b: Column): Column =
    ColumnBridge.column(
      DecProdSum(ColumnBridge.expression(a), ColumnBridge.expression(b))
        .toAggregateExpression())
}
