package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen cosine similarity over two float-array columns.
  *
  * Why a custom Catalyst Expression (SURVEY §7.3 ladder, step (b)): the
  * composable alternative — `aggregate(zip_with(a, b, ...))` — is a
  * higher-order function, which Spark evaluates INTERPRETED (lambda
  * closures per element, boxed rows); it also materializes the zipped
  * product array. At 100 TB of embeddings the dot product is the hot loop
  * of every ANN re-rank, so it deserves whole-stage codegen: this
  * expression emits one fused primitive-double loop (dot + both norms in a
  * single pass, no allocation).
  *
  * Numeric contract: identical bit-for-bit to the sequential left-fold
  * `aggregate(zip_with(...))` formulation (same accumulation order, same
  * float→double widening), so the DuckDB oracle for q51 keeps hash-matching.
  * Returns null for null/length-mismatched inputs and for zero-norm vectors.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0d; var nx = 0d; var ny = 0d
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0d) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xi = (double) $a.getFloat($i);
         |    final double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  final double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  if ($denom == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  /** Column-level constructor, registry-free (like [[DecSum6.column]]). */
  def column(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
