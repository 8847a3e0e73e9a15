package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.Tables

/** Cross-corpus (incremental) dedup: screen a NEW batch against an
  * already-ingested corpus without joining the full history — the weekly
  * crawl-over-crawl shape. Two stages, both Spark-native:
  *
  *  1. BLOOM PREFILTER: the seen corpus folds into one bloom filter via
  *     the same `BloomFilterAggregate` machinery Spark's runtime
  *     bloom-join uses (partial filters OR-merge map-side; the wire
  *     carries O(bits), not O(rows)). `might_contain` then drops the
  *     vast majority of genuinely-novel new rows WITHOUT a shuffle of
  *     the seen side — at 100 TB the bloom is megabytes where the seen
  *     content-hash set is terabytes.
  *  2. EXACT CONFIRM: only rows the bloom claims "maybe seen" (the true
  *     duplicates plus the fpp sliver of false positives) pay the exact
  *     anti-join. Bloom filters have NO false negatives, so
  *     novel = definitely-novel ∪ (maybe-seen ∖ seen) is EXACT — the
  *     oracle is a plain anti-join, the bloom is purely a cost lever.
  */
object CrossCorpus {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** The bloom filter over a long column that Spark's runtime bloom join
    * builds (`BloomFilterAggregate`), as an aggregate Column: a binary
    * filter sized for `expectedItems` with `numBits` bits.
    */
  private[operators] def bloomAgg(value: Column, expectedItems: Long,
      numBits: Long): Column =
    ColumnBridge.column(new BloomFilterAggregate(ColumnBridge.expression(value),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Probe of a [[bloomAgg]] filter (`BloomFilterMightContain`): false
    * only for a value that was never added.
    */
  private[operators] def bloomMightContain(bloom: Array[Byte], value: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(Literal(bloom),
      ColumnBridge.expression(value)))

  /** Novel rows of `newBatch` (those whose `key` column value never
    * appears in `seen`), via bloom prefilter + exact anti-join confirm.
    * A non-long key column is fed to the bloom through xxhash64 (the
    * bloom expression wants a long) — correctness-invisible, since the
    * bloom only gates which rows pay the EXACT anti-join on the raw key.
    * Works on any session: the bloom expressions enter the plan as
    * Column constructors ([[bloomAgg]], [[bloomMightContain]]).
    */
  def novelRows(newBatch: DataFrame, seen: DataFrame, key: String,
      expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val keyIsLong = seen.schema(key).dataType == LongType
    val bloomKey = if (keyIsLong) col(key) else xxhash64(col(key))
    // The bloom builds DISTRIBUTED (partial filters OR-merge map-side);
    // only the final numBits/8-byte binary (1 MiB at the default) lands on
    // the driver — the same lifecycle as Spark's own runtime bloom join,
    // whose might_contain likewise requires a materialized constant filter.
    val bloomBytes = seen
      .agg(bloomAgg(bloomKey, expectedItems, numBits).as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    // empty seen corpus -> null bloom -> everything in the batch is novel
    if (bloomBytes == null) return newBatch
    val flagged = newBatch.withColumn("maybe_seen",
      bloomMightContain(bloomBytes, bloomKey))
    val definitelyNovel = flagged.where(!col("maybe_seen")).drop("maybe_seen")
    val confirmNovel = flagged.where(col("maybe_seen")).drop("maybe_seen")
      .join(seen.select(col(key)).distinct(), Seq(key), "left_anti")
    definitelyNovel.unionByName(confirmNovel)
  }

  /** q117: incremental crawl dedup report. Even doc_ids play the role of
    * the already-ingested corpus, odd doc_ids the new crawl. Content
    * identity is keyed on md5(text) so it is hash-identical to the DuckDB
    * oracle (the bloom still probes an xxhash64 of that key internally,
    * which cannot change results). Output: per-source counts of the
    * new batch vs its novel survivors. The oracle is the exact anti-join
    * semantics — the bloom stage is invisible to results by construction
    * (no false negatives).
    */
  def qCrossCorpusDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("content_key"))
    val seen = docs.where(col("doc_id") % 2 === 0)
    val fresh = docs.where(col("doc_id") % 2 === 1)
    val novel = novelRows(fresh, seen.select(col("content_key")), "content_key")
    val totals = fresh.groupBy(col("source")).agg(count(lit(1)).as("n_new"))
    val kept = novel.groupBy(col("source")).agg(count(lit(1)).as("n_novel"))
    totals.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_new"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  /** DuckDB mirror of the EXACT semantics (hash(text) membership); DuckDB
    * has no xxhash64, but membership is hash-agnostic — same text sets,
    * same counts — so md5-based membership is an equivalent spelling.
    */
  val qCrossCorpusDedupSql: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS content_key FROM documents),
      |seen AS (SELECT DISTINCT content_key FROM d WHERE doc_id % 2 = 0),
      |fresh AS (SELECT * FROM d WHERE doc_id % 2 = 1),
      |novel AS (
      |  SELECT fresh.* FROM fresh LEFT JOIN seen USING (content_key)
      |  WHERE seen.content_key IS NULL),
      |tot AS (SELECT source, COUNT(*) AS n_new FROM fresh GROUP BY source),
      |k AS (SELECT source, COUNT(*) AS n_novel FROM novel GROUP BY source)
      |SELECT tot.source, tot.n_new, COALESCE(k.n_novel, 0) AS n_novel
      |FROM tot LEFT JOIN k USING (source)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q117_cross_corpus_dedup" -> (qCrossCorpusDedup _))

  val oracle: Map[String, String] = Map(
    "q117_cross_corpus_dedup" -> qCrossCorpusDedupSql)
}
