package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming document ingestion: near-duplicate suppression at ingest
  * time, before content ever lands in the corpus.
  *
  * The batch near-dup stack (TextOps minhash → bands → candidate join →
  * clusters) needs aggregations and self-joins a stream can't run
  * unbounded. The streaming-ingest form restructures the signature to be
  * ROW-LOCAL — higher-order array functions over the document's own
  * shingles, no explode, no groupBy — so the only stateful operator is one
  * `dropDuplicates` on the signature key. State is one 64-bit key per
  * distinct content signature, the minimum possible for the semantics.
  */
object Docs {

  // K salted-xxhash64 families. NOT the batch family (TextOps.qMinhashBands
  // takes md5 mins so DuckDB can re-derive them); streaming keys are never
  // compared against batch signature values, only to each other.
  private val K = 32

  /** Append a row-local MinHash signature key over word-3-gram shingles:
    * for each of K salted xxhash64 families take the min over the doc's
    * own shingles (array_min ∘ transform, evaluated per row), then
    * collapse the K mins to one 64-bit `sig_key`. Signature equality ⇒
    * Jaccard ≈ 1 (near-identical content, robust to shingle order and
    * multiplicity — unlike md5(text)). Documents under 3 tokens shingle to
    * their full text, so every row gets a well-defined key.
    */
  def withSignatureKey(docs: DataFrame): DataFrame = {
    val sh = expr(
      """array_distinct(transform(
        |  sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
        |  i -> concat_ws(' ', slice(split(text, ' '), i, 3))))""".stripMargin)
    val mins = (0 until K).map(i =>
      expr(s"array_min(transform(__shingles, s -> xxhash64($i, s)))"))
    docs.withColumn("__shingles", sh)
      .withColumn("sig_key", xxhash64(mins: _*))
      .drop("__shingles")
  }

  /** Streaming near-dup dedup: keep the first document per content
    * signature across micro-batches. Works identically on a batch frame
    * (dropDuplicates is the batch operator); under readStream the
    * signature keys become store-backed state — 8 bytes per distinct
    * content — evictable via dropDuplicatesWithinWatermark when the
    * caller bounds ingestion time.
    */
  def dedupBySignature(docs: DataFrame): DataFrame =
    withSignatureKey(docs).dropDuplicates("sig_key")
}
