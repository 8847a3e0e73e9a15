package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Exact decimal(18,6) sum over an all-long aggregation buffer.
  *
  * The engine's determinism contract sums monetary/measure doubles as
  * DECIMAL(18,6) so results are bit-identical under any partitioning
  * ([[graft.operators.Relational.dsum]]). Spark's built-in `sum(decimal)`
  * widens the buffer to decimal(28,6); precision 28 exceeds
  * `Decimal.MAX_LONG_DIGITS` (18), so the buffer no longer fits an
  * UnsafeRow mutable long field — every row update deserializes and
  * reserializes a JavaBigDecimal through the hash-aggregate buffer. At the
  * 100× temporal corpus that byte-array round-trip was ~55% of q01's wall
  * (BASELINE.md: full decimal 5.1–5.7 s vs 2.3–2.4 s with the identical cast
  * but a primitive sum buffer, over the same 60M-row scan).
  *
  * This aggregate keeps the IDENTICAL input semantics (the caller supplies
  * the decimal(18,6)-cast child, so NaN/Inf/overflow → NULL coercion is
  * byte-for-byte the builtin path) but accumulates the decimal's unscaled
  * long in a carry-normalized pair of longs:
  *
  *   sum_unscaled = hi·10⁹ + lo,  invariant |lo| < 10⁹
  *
  * Each update is ~6 long ALU ops (UnscaledValue is a field read on a
  * compact decimal): u = unscaled(x); t = lo + u%10⁹; lo' = t%10⁹;
  * hi' = hi + u/10⁹ + t/10⁹. Java's truncating `/`/`%` satisfy
  * u = (u/M)·M + u%M for negatives too, so the invariant and the exact
  * reassembly hold for any sign mix. Merge is the same normalization on
  * (hi₁+hi₂, lo₁+lo₂). The final value reassembles EXACTLY in decimal —
  * hi·1000 + lo·10⁻⁶ as decimal(32,6), the same rational number the
  * builtin's decimal(28,6) buffer holds — so the double produced by the
  * enclosing cast is bit-identical to the pre-r17 spelling (DecimalSumSpec
  * pins dsum ≡ builtin across sign mixes, nulls, repartitionings).
  *
  * Overflow domain: |hi| < 2⁶³ bounds |Σ| < 9.2·10²⁷ unscaled ≈ 9.2·10²¹
  * in value units, slightly INSIDE the builtin decimal(28,6) buffer's
  * < 10²² value-unit domain. The semantics at the boundary matter (r18,
  * advisor): a silent two's-complement wrap would return an arbitrary
  * finite value where the builtin returns NULL, so hi accumulation
  * carries a sign-rule overflow guard (`ovf` slot; for `s = a + b`,
  * overflow ⇔ `((a ^ s) & (b ^ s)) < 0`) and the evaluate path forces
  * NULL once it ever fires — the result is NULL-on-overflow like the
  * builtin, reaching NULL at ~0.92× the builtin's threshold instead of
  * wrapping (DecimalSumSpec pins both directions at the exact boundary).
  * One order-dependent divergence (r19, advisor): the `ovf` flag is
  * STICKY, so a TRANSIENT hi excursion past 2⁶³ that later negative
  * inputs would bring back into range still NULLs the result, where the
  * builtin's wider decimal(28,6) buffer (overflow-checked only at
  * evaluate) would return the finite true sum. The divergence is
  * safe-direction only — NULL instead of a finite value, never a wrong
  * value — and requires a partial sum beyond 9.2·10²¹ value units.
  * A 100 TB-scale revenue sum is ~10¹⁶, five orders of magnitude inside
  * the domain. All four buffer slots are primitive (long, long, boolean,
  * boolean), so the aggregate runs on the fast mutable-UnsafeRow path
  * with whole-stage codegen, map-side partial aggregation, and streaming
  * state-store support unchanged.
  */
case class DecSum6(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  private val M = 1000000000L // carry base: 10^9 (3 value digits above the 6-digit scale)

  override def prettyName: String = "dec_sum6"
  override def dataType: DataType = DecimalType(32, 6)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case dt: DecimalType if dt.precision == 18 && dt.scale == 6 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dec_sum6 requires DECIMAL(18,6) input (callers cast explicitly " +
            s"so coercion semantics stay the builtin's), got $other")
    }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val empty = AttributeReference("empty", BooleanType, nullable = false)()
  private lazy val ovf = AttributeReference("ovf", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, empty, ovf)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true), Literal(false))

  private def mLit = Literal(M)

  /** Sign-rule signed-add overflow test for `s = a + b`: the sum wrapped
    * iff both operands disagree in sign with the result — branch-free,
    * 4 long ALU ops, codegen-friendly (no If, so CSE still shares `s`).
    */
  private def addOverflows(a: Expression, b: Expression, s: Expression): Expression =
    LessThan(BitwiseAnd(BitwiseXor(a, s), BitwiseXor(b, s)), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    // NULL inputs add zero (an exact no-op on hi/lo) instead of branching:
    // If/CaseWhen branches are excluded from codegen subexpression
    // elimination, so an If-guarded spelling re-evaluates the expensive
    // double→decimal cast under `u` once per reference (~4× per row,
    // measured SLOWER than the builtin it replaces). With `u` in Coalesce's
    // always-evaluated first position the cast is CSE-shared across all
    // three slot updates.
    val u = UnscaledValue(child)
    val u0 = Coalesce(Seq(u, Literal(0L)))
    val t = Add(lo, new Remainder(u0, mLit))
    // per-row hi delta d: |u0/M| ≤ 10⁹ and |t/M| ≤ 1, so d itself cannot
    // wrap — only the hi + d accumulation can, and that is guarded
    val d = Add(new IntegralDivide(u0, mLit), new IntegralDivide(t, mLit))
    val hiNew = Add(hi, d)
    Seq(
      hiNew,
      new Remainder(t, mLit),
      And(empty, IsNull(u)),
      Or(ovf, addOverflows(hi, d, hiNew)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val t = Add(lo.left, lo.right)
    val c = new IntegralDivide(t, mLit) // lo-merge carry: |lo| < M each side → c ∈ {-1,0,1}
    val s2 = Add(hi.left, hi.right)
    val hiNew = Add(s2, c)
    Seq(
      hiNew,
      new Remainder(t, mLit),
      And(empty.left, empty.right),
      Or(Or(ovf.left, ovf.right),
        Or(addOverflows(hi.left, hi.right, s2), addOverflows(s2, c, hiNew))))
  }

  override lazy val evaluateExpression: Expression = {
    // hi carries 10^9 unscaled = 10^3 value units; lo carries 10^-6 value
    // units. Both products and the add are exact in decimal(32,6).
    val hiVal = Multiply(Cast(hi, DecimalType(20, 0)),
      Literal(Decimal(1000L, 4, 0), DecimalType(4, 0)))
    val loVal = Multiply(Cast(lo, DecimalType(10, 0)),
      Literal(Decimal(BigDecimal("0.000001")), DecimalType(6, 6)))
    If(Or(empty, ovf), Literal(null, dataType), Cast(Add(hiVal, loVal), dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): DecSum6 =
    copy(child = newChild)
}

object DecSum6 {
  /** Column-level constructor: the aggregate goes straight into the
    * DataFrame DSL through [[org.apache.spark.sql.graft.ColumnBridge]],
    * so it works on any session, with no function registry involved.
    */
  def column(c: Column): Column =
    ColumnBridge.column(
      DecSum6(ColumnBridge.expression(c)).toAggregateExpression())
}
