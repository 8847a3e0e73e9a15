package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Misra-Gries frequent-items summary (Misra & Gries '82;
  * mergeability per Agarwal et al., PODS'12 "Mergeable Summaries"). Holds
  * at most k counters. Insert: increment if present, add if room,
  * otherwise decrement ALL counters by one (dropping zeros) — the classic
  * step that charges the evicted insert against k surviving counts. Merge:
  * sum counterpart counters, then if over k subtract the (k+1)-th largest
  * count from every counter and drop the non-positive ones.
  *
  * Guarantee (both ops preserve it): every item with true count
  * > n/(k+1) is present, and each estimate undercounts by at most
  * n/(k+1). That makes the sketch a CANDIDATE GENERATOR: a second exact
  * pass over just the ≤k candidates turns the approximate summary into an
  * exact, deterministic top-k — the shape of the q103/q114 overflow
  * fallback, so the final answer never depends on partitioning even
  * though per-partition sketches do.
  *
  * Exactness certificate: [[err]] tracks the cumulative amount any
  * single counter can have been decremented by (update's decrement-all
  * rounds add 1 each; merge compaction adds the subtracted pivot; merge
  * sums the peers' errs). `err == 0` therefore certifies that NO
  * eviction ever happened anywhere in the merge tree — every absorbed
  * item is still present and every counter is its EXACT count. Running
  * the sketch with a capacity well above the expected key cardinality
  * (see [[MgFreqText]]'s `cap`) turns the candidate generator into
  * a single-pass exact top-k whenever the corpus vocabulary fits; `err`
  * is a by-product of work MG already does. For a non-exact sketch, `err` is also an upper bound on the
  * true count of any item absent from the counters (it can only have
  * been evicted by decrements totalling ≤ err).
  */
final class MgSketch(val k: Int) extends Serializable {
  require(k >= 1, s"k must be >= 1, got $k")
  /** Upper bound on the undercount of any counter (0 ⇒ all exact). */
  private[functions] var err: Long = 0L
  // Keyed by UTF8String, not String (r13): the aggregate's hot path feeds
  // tokens straight from row memory, and a String key would pay a UTF-8
  // decode + char[] allocation PER TOKEN before the map probe. UTF8String
  // hashes/compares its bytes in place, and the counter is a MUTABLE cell
  // in a java.util.HashMap (get returns the cell or null — no Option, no
  // boxed Long), so the dominant path (increment of an existing counter)
  // is one probe with zero allocation; only a NEW counter entry pays a
  // copy (`clone`) to own its bytes beyond the input row's lifetime.
  private[functions] val counters =
    new java.util.HashMap[UTF8String, MgSketch.Cell]()
  private[functions] var n: Long = 0L

  /** Items absorbed (exact). */
  def count: Long = n

  def update(item: String): Unit = update(UTF8String.fromString(item))

  /** `item` may be a transient view into row/array memory: it is only
    * stored (after `clone()`) when it becomes a new counter entry — map
    * lookups and increments never retain it.
    */
  def update(item: UTF8String): Unit = {
    n += 1
    val cell = counters.get(item)
    if (cell != null) cell.v += 1
    else if (counters.size < k) counters.put(item.clone(), new MgSketch.Cell(1L))
    else {
      // decrement-all: amortized O(1) — each decrement cancels a prior
      // increment, so total decrement work <= total inserts
      err += 1
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.v == 1L) it.remove() else e.getValue.v -= 1
      }
    }
  }

  def merge(o: MgSketch): Unit = {
    o.counters.forEach { (it, c) =>
      // keys from a deserialized/peer sketch are already owned copies
      val cell = counters.get(it)
      if (cell != null) cell.v += c.v else counters.put(it, new MgSketch.Cell(c.v))
    }
    n += o.n
    err += o.err
    if (counters.size > k) {
      val vals = new Array[Long](counters.size)
      var i = 0
      counters.forEach { (_, c) => vals(i) = c.v; i += 1 }
      java.util.Arrays.sort(vals)
      val sub = vals(vals.length - (k + 1)) // (k+1)-th largest count
      err += sub
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.v <= sub) it.remove() else e.getValue.v -= sub
      }
    }
  }

  /** (item, estimate) pairs, (estimate DESC, item ASC) — deterministic
    * given the counter multiset. String-typed for callers/specs; the ≤k
    * conversions here are off the hot path.
    */
  def topItems: Array[(String, Long)] = {
    val out = new Array[(String, Long)](counters.size)
    var i = 0
    counters.forEach { (it, c) => out(i) = (it.toString, c.v); i += 1 }
    out.sortBy { case (it, c) => (-c, it) }
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k); out.writeLong(n); out.writeLong(err); out.writeInt(counters.size)
    counters.forEach { (it, c) =>
      // length-prefixed UTF-8, not writeUTF: a pathological >64 KB token
      // must degrade to a big counter entry, never throw mid-aggregation.
      // (r14: the header gained the `err` long for the exactness
      // certificate — an in-flight shuffle format, never persisted.)
      val bytes = it.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c.v)
    }
    out.flush()
    bos.toByteArray
  }
}

object MgSketch {
  /** Mutable counter cell: increments mutate in place, no boxing. */
  final class Cell(var v: Long) extends Serializable

  def deserialize(bytes: Array[Byte]): MgSketch = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val s = new MgSketch(in.readInt())
    s.n = in.readLong()
    s.err = in.readLong()
    val size = in.readInt()
    var i = 0
    while (i < size) {
      val bytes = new Array[Byte](in.readInt())
      in.readFully(bytes)
      s.counters.put(UTF8String.fromBytes(bytes), new Cell(in.readLong()))
      i += 1
    }
    s
  }
}

/** `MgFreqText.column(text, k, cap)` — distributed heavy-hitters candidates
  * as a first-class Catalyst aggregate over a [[MgSketch]]: per-partition
  * summaries build map-side (update) and combine on the reduce side
  * (merge), so a corpus-wide frequent-tokens pass shuffles O(cap)-entry
  * sketches instead of one partial count per DISTINCT KEY. Tokenization
  * is fused: one update call per DOCUMENT scans the text's bytes in place
  * (maximal non-space runs, the repo-wide token contract — the same loop
  * as [[TokenTermCounts]]), feeding each token to the sketch as a
  * zero-copy UTF8String view. Returns `struct<n: bigint, err:
  * bigint, items: array<struct<item,est>>>`:
  *  - `n` — the EXACT non-empty token count of the absorbed stream
  *    (MgSketch counts absorbed items);
  *  - `err` — the sketch's exactness certificate ([[MgSketch.err]]):
  *    `err == 0` proves no eviction ever fired, so every `est` in
  *    `items` is an EXACT count and no item outside the sketch was ever
  *    seen;
  *  - `items` — the top-`k` counters, (est DESC, item ASC).
  *
  * `cap` (at least `k`) is the sketch CAPACITY, the MG counter budget,
  * separate from the returned arity `k`; both are plain Ints, checked
  * when the expression is built. With `cap` well above
  * the corpus vocabulary (1<<16 for word tokens: a few MB of counter
  * state per aggregation buffer, whatever the data size) `err == 0` is
  * the common case, and q103/q114 certify their top-k in a single pass.
  * When the vocabulary overflows `cap`, the sketch is the classic MG
  * summary, with error ≤ n/(cap+1).
  *
  * Per-token cost is one in-place map probe; only a new counter entry
  * (≤cap live, amortized by MG's decrement-all) allocates. A row holding
  * one space-free token feeds the sketch exactly that token, so
  * `MgFreqText.column(token, k, k)` over an exploded token column absorbs the
  * same stream as the whole documents (FrequentItemsSpec pins the
  * parity).
  */
case class MgFreqText(
    child: Expression,
    k: Int,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgSketch] with UnaryLike[Expression] {

  require(k >= 1 && cap >= k,
    s"mg_freq_text needs k >= 1 and cap >= k, got k = $k, cap = $cap")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_freq_text expects a STRING column, got ${child.dataType.sql}")
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("err", LongType, nullable = false),
    StructField("items", ArrayType(
      StructType(Seq(
        StructField("item", StringType, nullable = false),
        StructField("est", LongType, nullable = false))),
      containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "mg_freq_text"

  override def createAggregationBuffer(): MgSketch = new MgSketch(cap)

  override def update(buffer: MgSketch, input: InternalRow): MgSketch = {
    val v = child.eval(input)
    if (v != null) MgFreqText.updateFromText(buffer, v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: MgSketch, other: MgSketch): MgSketch = {
    buffer.merge(other); buffer
  }

  override def eval(buffer: MgSketch): Any =
    InternalRow(buffer.count, buffer.err,
      new GenericArrayData(buffer.topItems.take(k).map { case (it, c) =>
        InternalRow(UTF8String.fromString(it), c)
      }))

  override def serialize(buffer: MgSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): MgSketch =
    MgSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): MgFreqText =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MgFreqText =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): MgFreqText =
    copy(child = newChild)
}

object MgFreqText {
  /** Column-level constructor, registry-free (like [[DecSum6.column]]). */
  def column(text: Column, k: Int, cap: Int): Column =
    ColumnBridge.column(
      MgFreqText(ColumnBridge.expression(text), k, cap).toAggregateExpression())

  /** Tokenize `s` on space runs and absorb every non-empty token. Space
    * (0x20) never occurs inside a UTF-8 multibyte sequence, so the
    * byte-level split is exact for any input — same argument as
    * [[TokenTermCounts.count]]. Token views share one byte copy of the
    * document; the sketch clones only what it retains.
    */
  def updateFromText(sk: MgSketch, s: UTF8String): Unit = {
    val b = s.getBytes
    val n = b.length
    var i = 0
    while (i < n) {
      if (b(i) == 0x20) i += 1
      else {
        val start = i
        while (i < n && b(i) != 0x20) i += 1
        sk.update(UTF8String.fromBytes(b, start, i - start))
      }
    }
  }
}
