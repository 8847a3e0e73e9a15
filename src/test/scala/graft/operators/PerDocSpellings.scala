package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Brute-force per-doc spellings of the near-dup pair queries, the
  * references the content-layer queries are checked against. They share
  * no code with the queries' pair cores: the shingles come from Spark's
  * own array functions, the Jaccard pairs from an all-pairs cross join,
  * and the candidates from a plain banded self-join. Toy corpora only —
  * both are quadratic in the doc count.
  */
object PerDocSpellings {

  /** Distinct word 3-gram shingles of `text`: the tokens of
    * `split(text, ' ')` joined three at a time by one space, as the
    * oracle SQL's `array_to_string(toks[i:i+2], ' ')`. NULL (no rows
    * after an explode) for texts of fewer than 3 tokens.
    */
  private def shingles(text: org.apache.spark.sql.Column) = {
    val toks = split(text, " ")
    when(size(toks) >= 3, array_distinct(
      transform(sequence(lit(1), size(toks) - 2), i => concat_ws(" ", slice(toks, i, lit(3))))))
  }

  /** Every doc pair sharing at least one kept shingle, with its exact
    * filtered Jaccard: a shingle in more than half of the docs is dropped
    * from the numerator and both denominators (q49's df cap). Output:
    * (doc_a, doc_b, common, jaccard), doc_a < doc_b.
    */
  def filteredJaccard(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
    val nDocs = docs.count()
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") > nDocs * 0.5).select(col("shingle"))
    val sets = sh.join(hot, Seq("shingle"), "left_anti")
      .groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("s"))
    sets.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      .crossJoin(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
        size(array_union(col("sa"), col("sb"))).as("n_union"))
      .where(col("common") >= 1)
      .select(col("doc_a"), col("doc_b"), col("common"),
        (col("common").cast("double") / col("n_union")).as("jaccard"))
  }

  /** LSH candidate pairs over q48's bands ([[TextOps.qMinhashBands]]):
    * docs agreeing on at least one of the 8 band keys, each pair once.
    * The shuffle_hash hint keeps the self-join partitioned by the bucket
    * key, so a hot bucket lands in one shuffle partition that AQE's skew
    * handling can see. The banded frame is cached and filled first, as
    * q56's is: both join sides then scan one filled cache, the shape on
    * which ScaleSpec sees AQE split the hot bucket (uncached, the same
    * join ran unsplit). The caller clears the cache.
    */
  def bandedCandidates(bands: DataFrame): DataFrame = {
    val banded = bands.select(col("doc_id"),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"), col(s"band$b").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
      .persist()
    banded.count()
    banded.as("a").join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }
}
