package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, lit}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass whole-token counting against a constant term list.
  *
  * `TokenTermCounts.column(text, Seq("a", "b", …))` → `array<bigint>` where
  * element 0 is the total token count (tokens = maximal runs of
  * non-space bytes, i.e. `string_split(text, ' ')` minus empties),
  * element i+1 is the number of tokens exactly equal to the i-th term,
  * and the LAST element (k+1 for k terms) is the number of distinct
  * terms with at least one occurrence — emitted so an any-term
  * prefilter can reference the result exactly once: a predicate built
  * from per-term elements (`c[1] > 0 OR c[2] > 0 …`) is pushed below
  * the projection by Catalyst and clones the whole expression per
  * disjunct into the scan filter.
  *
  * Why a custom Catalyst Expression (SURVEY §7.3 ladder, step (b)): the
  * composable alternatives each re-traverse the text per statistic —
  * `size(split(…))` materializes every token as a fresh string,
  * higher-order `filter` counts interpret a lambda per element, and the
  * padded-string `replace`-delta trick allocates a doubled copy of the
  * text per term. BM25 against a fixed query (q142) needs 1 + |terms|
  * counts per document; at 100 TB the scan is CPU-bound on exactly this
  * loop, so it deserves a single fused pass: one byte-wise scan finds
  * token boundaries and compares each run against the term byte arrays
  * in place — zero allocation beyond the fixed-size result array.
  * Space (0x20) never occurs inside a UTF-8 multibyte sequence, so the
  * byte-level tokenization is exact for any input.
  *
  * The term list must be foldable (it is baked into the operator, the
  * way a query plan would inline literals); duplicate terms are counted
  * independently. Null text yields null.
  */
case class TokenTermCounts(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) if right.foldable =>
        // The term list is foldable, so null / null-element defects can be
        // caught HERE, at analysis time, instead of as an executor-side
        // IllegalArgumentException mid-job at first eval (ADVICE r12).
        val arr = right.eval().asInstanceOf[ArrayData]
        if (arr == null)
          TypeCheckResult.TypeCheckFailure(
            "token_term_counts: term list must not be null")
        else if ((0 until arr.numElements()).exists(arr.isNullAt))
          TypeCheckResult.TypeCheckFailure(
            "token_term_counts: term list must not contain nulls")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "token_term_counts expects (string, foldable array<string>), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = left.nullable

  @transient private lazy val termBytes: Array[Array[Byte]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    if (arr == null) throw new IllegalArgumentException(
      "token_term_counts: term list must not be null")
    (0 until arr.numElements()).map { i =>
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        "token_term_counts: term list must not contain nulls")
      arr.getUTF8String(i).getBytes.clone()
    }.toArray
  }

  @transient private lazy val termTable: TermTable = new TermTable(termBytes)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else TokenTermCounts.count(t.asInstanceOf[UTF8String], termTable)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // only the text child is evaluated at runtime — the term list is a
    // constant shipped once as a reference object, not re-built per row
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val termsRef = ctx.addReferenceObj("termTable", termTable,
      "graft.functions.TermTable")
    val leftGen = left.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        |${leftGen.code}
        |boolean ${ev.isNull} = ${leftGen.isNull};
        |$javaType ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.functions.TokenTermCounts.count(
        |    ${leftGen.value}, $termsRef);
        |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenTermCounts =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "token_term_counts"
}

/** Per-byte-length index over a term list: the per-token inner loop
  * visits only terms whose byte length equals the token's, so a WIDE term
  * list costs ~|same-length terms| byte-compares per token instead of
  * |terms| length checks. Built once per plan and shipped to executors as
  * a codegen reference object. Top-level class so generated Java can name
  * it.
  */
final class TermTable(val terms: Array[Array[Byte]]) extends Serializable {
  val k: Int = terms.length
  // The dense index is capped: a pathological multi-megabyte term (the
  // sketch path deliberately tolerates >64 KB tokens, which can become
  // candidate terms) must not inflate the index to maxLen cells — terms
  // longer than the cap share one overflow bucket, and the probe loop
  // re-checks exact length for them.
  private val denseCap = 1024
  private val maxLen: Int =
    if (k == 0) -1 else terms.iterator.map(_.length).max
  private val denseMax: Int = math.min(maxLen, denseCap)
  private val byLen: Array[Array[Int]] = {
    val builders = Array.fill(denseMax + 2)(Array.newBuilder[Int])
    var t = 0
    while (t < k) {
      val l = terms(t).length
      builders(if (l <= denseMax) l else denseMax + 1) += t
      t += 1
    }
    builders.map(_.result())
  }
  private val empty = Array.empty[Int]

  /** Indices of terms that MAY have byte length `len` (exact for lengths
    * within the dense cap; the shared overflow bucket for longer lengths —
    * callers' compare loops verify exact length).
    */
  def candidates(len: Int): Array[Int] =
    if (len > maxLen) empty
    else if (len <= denseMax) byLen(len)
    else byLen(denseMax + 1)
}

object TokenTermCounts {
  /** Column-level constructor, registry-free (like [[DecSum6.column]]):
    * the term list is an `array(lit(term), …)` of the given strings.
    */
  def column(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TokenTermCounts(ColumnBridge.expression(text),
      ColumnBridge.expression(array(terms.map(lit): _*))))

  /** The fused loop: tokenize on 0x20 runs, count all tokens and exact
    * matches per term (length-bucketed candidate probe). Called from both
    * interpreted eval and codegen.
    */
  def count(s: UTF8String, table: TermTable): ArrayData = {
    val n = s.numBytes
    val k = table.k
    val terms = table.terms
    val out = new Array[Long](k + 2)
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) i += 1
      else {
        val start = i
        while (i < n && s.getByte(i) != 0x20) i += 1
        out(0) += 1L
        val len = i - start
        val cand = table.candidates(len)
        var ci = 0
        while (ci < cand.length) {
          val t = cand(ci)
          val tb = terms(t)
          if (tb.length == len) { // exact for dense buckets; real for overflow
            var j = 0
            while (j < len && s.getByte(start + j) == tb(j)) j += 1
            if (j == len) out(t + 1) += 1L
          }
          ci += 1
        }
      }
    }
    var t = 0
    while (t < k) {
      if (out(t + 1) > 0L) out(k + 1) += 1L
      t += 1
    }
    new GenericArrayData(out)
  }
}
