package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.expr

/** Mergeable streaming quantile sketch (KLL-style relative-compaction
  * hierarchy, Karnin/Lang/Liberty FOCS'16 shape) sized O(k log n) — the
  * scale path for percentiles over 100 TB where an exact sort
  * ([[graft.operators.Analytics.exactQuantilesByHistogram]]) is a luxury and
  * a single-buffer percentile_approx collapse is the bottleneck.
  *
  * Level i holds items of weight 2^i. Inserts land in level 0; a full
  * level is sorted and every other item promoted (weight doubles), with
  * the selection parity alternating deterministically per level — no RNG,
  * so a given (data, partitioning) is reproducible. Total weight is
  * conserved exactly (odd leftover item stays at its level), so ranks are
  * unbiased up to the compaction error ~O(1/k) relative rank.
  *
  * Query: all (value, 2^level) pairs sorted once, quantile read off the
  * cumulative weight — the classic mergeable-summaries contract
  * (Agarwal et al., PODS'12): update distributively, merge
  * associatively, tiny fixed-size state per group.
  */
final class KllSketch(val k: Int) extends Serializable {
  require(k >= 8, s"k must be >= 8, got $k")
  // levels(i): unsorted buffer of items with weight 2^i
  private[functions] var levels: ArrayBuffer[ArrayBuffer[Double]] =
    ArrayBuffer(new ArrayBuffer[Double])
  private[functions] var parities: ArrayBuffer[Boolean] = ArrayBuffer(false)
  private[functions] var n: Long = 0L

  /** Number of values absorbed (exact). */
  def count: Long = n

  /** Capacity decays c=2/3 per level below the top so total space stays
    * O(k): top levels keep ~k items, deep (high-weight) levels keep more
    * because their items carry more rank mass.
    */
  private def capacity(level: Int): Int = {
    val depth = levels.length
    val c = math.pow(2.0 / 3.0, (depth - 1 - level).toDouble)
    math.max(8, math.ceil(k * c).toInt)
  }

  def update(v: Double): Unit = {
    levels(0) += v
    n += 1
    if (levels(0).length >= capacity(0)) compress()
  }

  def merge(o: KllSketch): Unit = {
    while (levels.length < o.levels.length) {
      levels += new ArrayBuffer[Double]
      parities += false
    }
    var i = 0
    while (i < o.levels.length) {
      levels(i) ++= o.levels(i)
      i += 1
    }
    n += o.n
    compress()
  }

  /** One bottom-up pass: any over-capacity level promotes half its items.
    * Weight conservation: an odd element (post-sort tail) stays put.
    */
  private def compress(): Unit = {
    var i = 0
    while (i < levels.length) {
      if (levels(i).length >= capacity(i) && levels(i).length >= 2) {
        if (i + 1 == levels.length) {
          levels += new ArrayBuffer[Double]
          parities += false
        }
        val buf = levels(i).toArray
        java.util.Arrays.sort(buf)
        val even = buf.length - (buf.length % 2)
        val start = if (parities(i)) 1 else 0
        parities(i) = !parities(i)
        val up = levels(i + 1)
        var j = start
        while (j < even) { up += buf(j); j += 2 }
        val keep = new ArrayBuffer[Double]
        if (even < buf.length) keep += buf(buf.length - 1)
        levels(i) = keep
      }
      i += 1
    }
  }

  /** Estimated quantiles at the given probabilities (NaN when empty). */
  def quantiles(probs: Seq[Double]): Array[Double] = {
    if (n == 0) return probs.map(_ => Double.NaN).toArray
    var m = 0
    levels.foreach(m += _.length)
    val vals = new Array[Double](m)
    val wts = new Array[Long](m)
    var idx = 0
    var lvl = 0
    while (lvl < levels.length) {
      val w = 1L << lvl
      levels(lvl).foreach { v => vals(idx) = v; wts(idx) = w; idx += 1 }
      lvl += 1
    }
    val order = (0 until m).sortBy(vals)
    val totalW = wts.sum
    probs.map { p =>
      val target = math.max(1L, math.ceil(p * totalW).toLong)
      var cum = 0L
      var i = 0
      var out = vals(order(m - 1))
      var found = false
      while (i < m && !found) {
        cum += wts(order(i))
        if (cum >= target) { out = vals(order(i)); found = true }
        i += 1
      }
      out
    }.toArray
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeLong(n); out.writeInt(levels.length)
    levels.indices.foreach { i =>
      out.writeBoolean(parities(i))
      out.writeInt(levels(i).length)
      levels(i).foreach(out.writeDouble)
    }
    out.flush()
    bos.toByteArray
  }
}

object KllSketch {
  def deserialize(bytes: Array[Byte]): KllSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new KllSketch(in.readInt())
    s.n = in.readLong()
    val depth = in.readInt()
    s.levels = ArrayBuffer.fill(depth)(new ArrayBuffer[Double])
    s.parities = ArrayBuffer.fill(depth)(false)
    (0 until depth).foreach { i =>
      s.parities(i) = in.readBoolean()
      val len = in.readInt()
      var j = 0
      while (j < len) { s.levels(i) += in.readDouble(); j += 1 }
    }
    s
  }
}

/** `kll_quantiles(value, array(p1, p2, ...), k)` — distributed quantile
  * estimation as a first-class Catalyst aggregate: partial sketches build
  * map-side (update), combine on the reduce side (merge), so a grouped
  * percentile is ONE shuffle of O(k log n)-byte sketches instead of a
  * shuffle of raw values. probs and k must be foldable.
  */
case class KllQuantiles(
    child: Expression,
    probsExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketch] {

  private lazy val probs: Seq[Double] = {
    require(probsExpr.foldable, "kll_quantiles probs must be a literal array")
    probsExpr.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray().toSeq
  }
  private lazy val sketchK: Int = {
    require(kExpr.foldable, "kll_quantiles k must be a literal")
    kExpr.eval().asInstanceOf[Int]
  }

  override def children: Seq[Expression] = Seq(child, probsExpr, kExpr)
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = child.dataType == DoubleType &&
      (probsExpr.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }) && kExpr.dataType == IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kll_quantiles expects (DOUBLE, ARRAY<DOUBLE>, INT), got " +
        s"(${child.dataType.sql}, ${probsExpr.dataType.sql}, ${kExpr.dataType.sql})")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kll_quantiles"

  override def createAggregationBuffer(): KllSketch = new KllSketch(sketchK)

  override def update(buffer: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllSketch, other: KllSketch): KllSketch = {
    buffer.merge(other); buffer
  }

  override def eval(buffer: KllSketch): Any =
    new GenericArrayData(buffer.quantiles(probs))

  override def serialize(buffer: KllSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): KllSketch =
    KllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): KllQuantiles =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllQuantiles =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllQuantiles =
    copy(child = newChildren(0), probsExpr = newChildren(1), kExpr = newChildren(2))
}

object QuantileSketch {
  /** Shared guarded builder (session registry + extension injection). */
  private[functions] val kllQuantilesBuilder: Seq[Expression] => Expression = {
    case Seq(value, probs, k) => KllQuantiles(value, probs, k)
    case exprs => throw new IllegalArgumentException(
      s"kll_quantiles expects 3 arguments (value, probs, k), got ${exprs.length}")
  }

  /** Idempotent session-local registration of `kll_quantiles`. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kll_quantiles", kllQuantilesBuilder, "scala_udf")

  /** DataFrame-side helper: `kllQuantiles("x", Seq(0.5, 0.95), 200)`. */
  def kllQuantiles(colName: String, probs: Seq[Double], k: Int = 200): Column =
    expr(s"kll_quantiles(CAST($colName AS DOUBLE), " +
      s"array(${probs.map(p => s"CAST($p AS DOUBLE)").mkString(", ")}), $k)")
}
