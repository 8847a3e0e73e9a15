package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word n-gram shingle extraction.
  *
  * `WordShingles.column(text, n, dedup)` → `array<string>`: the word n-grams of
  * `string_split(text, ' ')` (empties included, exactly like the
  * composable `transform(sequence(…), i -> concat_ws(' ', slice(toks,
  * i, n)))` spelling), in order; fewer than n tokens yields an empty
  * array; `dedup` keeps the FIRST occurrence of each shingle
  * (`array_distinct` semantics).
  *
  * Why a custom Catalyst Expression (SURVEY §7.3 ladder, step (b)): the
  * HOF spelling is interpreted per element and materializes every token
  * string before concatenating each window into yet another string. But
  * `split(text, ' ')` is LOSSLESS — the text is exactly its tokens
  * joined by single spaces — so every shingle is a byte SUBSTRING of the
  * original text. One pass records the space positions, then each
  * shingle is a zero-copy `UTF8String` view over the text's byte array:
  * no token objects, no concatenation, no lambda interpretation. The
  * shingle scan is the linear-cost term of the whole banded dedup
  * family (q90/q55/q56/q105/q143/q154) at corpus
  * scale — a 10× rebuild measured extraction dominating those queries
  * once the banded joins bounded the quadratic term.
  *
  * The result array holds views into one shared byte copy of the row's
  * text; consumers (explode → shuffle writers) copy what they keep.
  */
case class WordShingles(child: Expression, n: Int, dedup: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects a string column, got ${child.dataType.catalogString}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"word_shingles: n must be >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else WordShingles.shingles(t.asInstanceOf[UTF8String], n, dedup)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code =
      code"""
        |${childGen.code}
        |boolean ${ev.isNull} = ${childGen.isNull};
        |$javaType ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = graft.functions.WordShingles.shingles(
        |    ${childGen.value}, $n, $dedup);
        |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** Column-level constructor, registry-free (like [[DecSum6.column]]). */
  def column(text: Column, n: Int, dedup: Boolean): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n, dedup))

  private val empty = new GenericArrayData(new Array[Any](0))

  /** One pass over the bytes: spaces are token boundaries (0x20 never
    * occurs inside a UTF-8 multibyte sequence), shingle j is the byte
    * range from the start of token j to the end of token j+n-1.
    */
  def shingles(s: UTF8String, n: Int, dedup: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) {
      if (bytes(i) == 0x20) spaces += 1
      i += 1
    }
    val m = spaces + 1 // token count of split(text, ' ') with empties
    if (m < n) return empty
    // starts(j) = byte offset of token j; starts(m) = len + 1 sentinel,
    // so "end of token k" = starts(k + 1) - 1 uniformly (one space
    // separates consecutive tokens — split on ' ' is lossless)
    val starts = new Array[Int](m + 1)
    var j = 1
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { starts(j) = i + 1; j += 1 }
      i += 1
    }
    starts(m) = len + 1
    val count = m - n + 1
    if (!dedup) {
      val out = new Array[Any](count)
      var k = 0
      while (k < count) {
        out(k) = UTF8String.fromBytes(bytes, starts(k), starts(k + n) - 1 - starts(k))
        k += 1
      }
      new GenericArrayData(out)
    } else {
      // capacity is a hint; clamp so a pathological >2^30-token document
      // can't overflow Int to a negative capacity (ADVICE r12)
      val seen = new java.util.LinkedHashSet[UTF8String](
        Math.max(16, Math.min(count, 1 << 29) * 2))
      var k = 0
      while (k < count) {
        seen.add(UTF8String.fromBytes(bytes, starts(k), starts(k + n) - 1 - starts(k)))
        k += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
    }
  }
}
