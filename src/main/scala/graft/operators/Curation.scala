package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{MgFreqText, TokenTermCounts, WordShingles}

/** Corpus-curation operators (round 7): the dedup-resolution and robust-
  * screening passes a training-data pipeline runs AFTER candidate
  * generation — paragraph(chunk)-level dedup retention accounting
  * (RefinedWeb-style), keep-best duplicate resolution, robust per-source
  * length statistics (median + MAD), per-group exact heavy hitters
  * (Misra-Gries under groupBy), and tokenizer vocabulary coverage.
  *
  * Scale design notes per query are on each member; the shared shape is:
  * row-local array work before any explode, aggregation keyed on content
  * hashes or (source, token) — never all-pairs — and tiny per-source
  * frames broadcast for the final joins.
  */
object Curation {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  private def toks(c: Column): Column = split(c, " ")

  /** q111: chunk-level ("paragraph") exact-dedup retention accounting.
    * Documents are cut into consecutive 10-token chunks (row-local
    * `transform(sequence)` — no shuffle to build them); a chunk instance
    * is KEPT iff it is the globally first occurrence of its content,
    * ordered by (doc_id, idx) — the policy a paragraph-dedup pass like
    * RefinedWeb's applies before rejoining surviving chunks. Output is
    * the per-source accounting a curation run reports: instances vs
    * survivors.
    *
    * Scale: one shuffle keyed on chunk content for the first-occurrence
    * aggregate (min(struct) is combine-friendly — partial min map-side,
    * so a boilerplate chunk repeated 10^9 times costs one partial row per
    * partition, no skew blow-up), plus a per-source count; the final join
    * is |sources| rows, broadcast.
    */
  def qChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val chunks = t(s, dir, "documents")
      .withColumn("toks", toks(col("text")))
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1), " +
            "i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))"))
          .as(Seq("idx", "chunk")))
    val totals = chunks.groupBy(col("source")).agg(count(lit(1)).as("n_chunks"))
    val kept = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("idx"), col("source"))).as("first"))
      .groupBy(col("first.source").as("source"))
      .agg(count(lit(1)).as("n_kept"))
    totals.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  val qChunkDedupSql: String =
    """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
      |           FROM documents),
      |c AS (
      |  SELECT doc_id, source, toks,
      |    unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS idx
      |  FROM t),
      |ch AS (
      |  SELECT doc_id, source, idx,
      |    array_to_string(toks[(idx * 10 + 1):(idx * 10 + 10)], ' ') AS chunk
      |  FROM c),
      |tot AS (SELECT source, COUNT(*) AS n_chunks FROM ch GROUP BY source),
      |k AS (
      |  SELECT source, COUNT(*) AS n_kept FROM (
      |    SELECT source, row_number() OVER (
      |      PARTITION BY chunk ORDER BY doc_id, idx) AS rn
      |    FROM ch)
      |  WHERE rn = 1 GROUP BY source)
      |SELECT tot.source, tot.n_chunks, COALESCE(k.n_kept, 0) AS n_kept
      |FROM tot LEFT JOIN k USING (source)""".stripMargin

  /** q112: keep-best duplicate resolution. Groups documents by a
    * canonical key (here the first-5-token prefix — the URL-less stand-in
    * for "same page, different crawl") and keeps the best row per group:
    * longest text, ties to the smallest doc_id. This is the resolution
    * half of dedup — candidate grouping says WHICH rows collide,
    * keep-best decides WHO survives — and the policy is a one-line
    * `row_number` ordering swap (newest crawl, highest quality score, …).
    *
    * Scale: one shuffle on the group key for the window; group sizes are
    * duplicate multiplicities (bounded, small), so no window-skew.
    * Per-source accounting joins two |sources|-row frames.
    */
  def qKeepBest(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents")
      .withColumn("key", concat_ws(" ", slice(toks(col("text")), 1, 5)))
    val rn = row_number().over(
      Window.partitionBy(col("key"))
        .orderBy(col("n_chars").desc, col("doc_id").asc))
    keyed.withColumn("rn", rn)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept"),
        sum(when(col("rn") =!= 1, 1L).otherwise(0L)).as("dropped"),
        sum(when(col("rn") === 1, col("n_chars")).otherwise(0L)).as("chars_kept"))
  }

  val qKeepBestSql: String =
    """WITH keyed AS (
      |  SELECT source, n_chars, row_number() OVER (
      |      PARTITION BY array_to_string(string_split(text, ' ')[1:5], ' ')
      |      ORDER BY n_chars DESC, doc_id ASC) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |  CAST(SUM(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
      |  CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
      |FROM keyed GROUP BY source""".stripMargin

  /** q113: robust per-source length statistics — exact median and MAD
    * (median absolute deviation), the outlier-screen pair that doesn't
    * chase the tail the way mean/stddev do. Two exact-percentile
    * aggregations: medians per source, then deviations against the
    * broadcast medians. Both interpolate linearly on clean integer /
    * half-integer values, so the doubles bit-match DuckDB's
    * quantile_cont.
    *
    * Scale: `percentile` holds per-group buffers of the group's values —
    * fine for bounded per-source screening batches; for unbounded groups
    * the documented swap is `approx_percentile` (same call shape), or
    * [[Analytics.exactQuantilesByHistogram]] when exactness must survive
    * cardinality.
    */
  def qMadRobust(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val med = docs.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5D)").as("med"))
    docs.join(broadcast(med), Seq("source"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("med")).as("med"),
        expr("percentile(abs(n_chars - med), 0.5D)").as("mad"))
  }

  val qMadRobustSql: String =
    """WITH m AS (SELECT source, median(n_chars) AS med FROM documents
      |           GROUP BY source)
      |SELECT d.source, COUNT(*) AS n_docs, MAX(m.med) AS med,
      |  median(abs(d.n_chars - m.med)) AS mad
      |FROM documents d JOIN m ON d.source = m.source
      |GROUP BY d.source""".stripMargin

  /** q114: per-group exact heavy hitters in one certified pass. One
    * fused-tokenization Misra-Gries sketch per source
    * ([[graft.functions.MgFreqText]], capacity 1<<16, returned arity 5).
    * A source whose sketch never evicted (`err == 0`) has exact
    * estimates, so its (est DESC, item ASC) head IS its exact top-5, and
    * a source with fewer than 5 types returns its true shorter list. The
    * check runs inside the plan at every execution. A source whose
    * vocabulary overflows the capacity raises, naming
    * [[qGroupHeavyHittersRecount]]. A NULL source is a group like any
    * other, as in the SQL oracle.
    *
    * Scale: one scan; each aggregation buffer holds at most
    * min(vocab, cap) counters, and the shuffle ships one sketch per
    * (source, partition).
    */
  def qGroupHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val cap = 1 << 16
    t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(MgFreqText.column(col("text"), 5, cap).as("r"))
      // the guard lives on the ARRAY, before the explode: an err > 0
      // sketch whose counters compacted to empty must still raise, not
      // vanish into a zero-row group (the posexplode of an empty
      // certified array, by contrast, is a correct empty answer for a
      // source with no tokens)
      .select(col("source"), posexplode(when(col("r.err") === 0L, col("r.items"))
        .otherwise(raise_error(concat(
          lit("q114 MG safety margin violated for source "),
          coalesce(col("source"), lit("<null>")),
          lit(": sketch capacity overflowed (err "),
          col("r.err").cast("string"),
          lit(s") — vocabulary exceeds $cap types, single-pass "),
          lit("exactness unprovable; use qGroupHeavyHittersRecount"))))))
      .select(col("source"), (col("pos") + 1).as("rank"),
        col("col.item").as("token"), col("col.est").as("cnt"))
  }

  /** q114's fallback for a source whose vocabulary overflows
    * [[qGroupHeavyHitters]]'s capacity: the exact per-source top-5, see
    * [[heavyHittersRecount]].
    */
  def qGroupHeavyHittersRecount(s: SparkSession, dir: String): DataFrame =
    heavyHittersRecount(s, dir, "q114", Seq("source"), 5)

  /** The collect-free overflow fallback of q103 and q114: the exact
    * top-`top` tokens per group of `documents`, output as the group
    * columns, `rank`, `token` and `cnt`.
    *
    * One [[graft.functions.MgFreqText]] sketch per group, at the
    * registered queries' capacity 1<<16, gives the group's token count
    * n, its error `err` and its top 65 counters. Those candidates are
    * recounted exactly, with a broadcast join and a group-by. A token
    * outside them has true count at most `err` plus the 65th estimate
    * (`bound`). So a group's recounted top-`top` is its true top-`top`
    * when it has `top` rows that each clear `bound`, or when the
    * candidates' counts add up to n (every token was a candidate).
    * Otherwise the plan raises. Group keys compare with `<=>`, so a NULL
    * group is a group like any other, as in the SQL oracles.
    */
  private[operators] def heavyHittersRecount(s: SparkSession, dir: String,
      q: String, groups: Seq[String], top: Int): DataFrame = {
    val cap = 1 << 16
    val k = 65
    val keys = groups.map(col)
    // `l` joined to the broadcast `r` on `on`, NULL matching NULL; the
    // output keeps `l`'s key columns only
    def joinNullSafe(l: DataFrame, r: DataFrame, on: Seq[String], how: String) = {
      val rr = broadcast(on.foldLeft(r)((d, c) => d.withColumnRenamed(c, s"r_$c")))
      l.join(rr, on.map(c => l(c) <=> rr(s"r_$c")).foldLeft(lit(true))(_ && _), how)
        .drop(on.map(c => s"r_$c"): _*)
    }
    val docs = t(s, dir, "documents")
    // a group with no tokens has no answer rows
    val sk = docs.groupBy(keys: _*)
      .agg(MgFreqText.column(col("text"), k, cap).as("r"))
      .where(col("r.n") > 0)
    val cands = sk.select(keys :+ explode(col("r.items.item")).as("token"): _*)
    val bounds = sk.select(keys ++ Seq(col("r.n").as("n"), (col("r.err") +
      when(size(col("r.items")) === k, element_at(col("r.items"), k)("est"))
        .otherwise(0L)).as("bound")): _*)
    val inGroup = Window.partitionBy(keys: _*)
    val counted = joinNullSafe(
        docs.select(keys :+ explode(toks(col("text"))).as("token"): _*),
        cands, groups :+ "token", "inner")
      .groupBy(keys :+ col("token"): _*).agg(count(lit(1)).as("cnt"))
      .withColumn("covered", sum(col("cnt")).over(inGroup))
      .withColumn("rank", row_number().over(
        inGroup.orderBy(col("cnt").desc, col("token").asc)))
      .where(col("rank") <= top)
      .withColumn("rows_in_group", count(lit(1)).over(inGroup))
    // a NULL group name must not null the whole message
    val where = groups.foldLeft(lit(""))((m, g) =>
      concat(m, lit(s" for $g "), coalesce(col(g), lit("<null>"))))
    // the left join keeps a group with no candidate rows on the guard path
    joinNullSafe(bounds, counted, groups, "left")
      .select(keys ++ Seq(col("rank"), col("token"),
        when(col("covered") === col("n") ||
            col("rows_in_group") === top && col("cnt") > col("bound"), col("cnt"))
          .otherwise(raise_error(concat(
            lit(s"$q MG safety margin violated"), where,
            lit(": rows "), coalesce(col("rows_in_group").cast("string"), lit("0")),
            lit(", cnt "), coalesce(col("cnt").cast("string"), lit("null")),
            lit(", non-candidate bound "), col("bound").cast("string"),
            lit(" with n = "), col("n").cast("string"),
            lit(s" — too flat for $k sketch candidates to prove exact; count "),
            lit("every token instead, as TextOps.qTokenFreq does")))).as("cnt")): _*)
  }

  val qGroupHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (
      |  SELECT source, token, COUNT(*) AS cnt FROM toks
      |  WHERE token <> '' GROUP BY source, token),
      |ranked AS (
      |  SELECT source, token, cnt, row_number() OVER (
      |    PARTITION BY source ORDER BY cnt DESC, token ASC) AS rank
      |  FROM counts)
      |SELECT source, rank, token, cnt FROM ranked WHERE rank <= 5""".stripMargin

  /** The closed vocabulary q115 screens against — a stand-in for a real
    * tokenizer's lexicon (literal so the DuckDB oracle shares it exactly).
    */
  private[operators] val vocab: Seq[String] =
    Seq("the", "a", "table", "row", "value", "key", "scan", "part")

  /** q115: tokenizer vocabulary coverage — per source: stream length,
    * out-of-vocabulary token instances, and distinct OOV types. The
    * instance counts are fully row-local (higher-order `filter` over the
    * token array, no explode); only the distinct-type count pays an
    * explode + distinct, keyed (source, token).
    */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocabArr = array(vocab.map(lit): _*)
    // instance counts from one fused TokenTermCounts pass — element 1 is
    // the total non-empty token count, elements 2..|V|+1 the per-vocab-
    // term counts, so OOV instances = total − in-vocab sum. Two-level
    // select keeps the expression evaluated once per row (CollapseProject
    // cost guard). The distinct-type branch filters after the explode
    // (codegen), not with an interpreted filter lambda.
    val withC = docs.select(col("source"),
      TokenTermCounts.column(col("text"), vocab).as("c"))
    val inVocabSum = (1 to vocab.length)
      .map(i => element_at(col("c"), i + 1)).reduce(_ + _)
    val inst = withC
      .select(col("source"), element_at(col("c"), 1).as("nt"),
        (element_at(col("c"), 1) - inVocabSum).as("ov"))
      .groupBy(col("source")).agg(
        sum(col("nt")).as("n_tokens"), sum(col("ov")).as("oov_tokens"))
    val types = docs
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .where(col("token") =!= "" && !array_contains(vocabArr, col("token")))
      .groupBy(col("source"))
      .agg(countDistinct(col("token")).as("distinct_oov"))
    inst.join(broadcast(types), Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("oov_tokens"),
        coalesce(col("distinct_oov"), lit(0L)).as("distinct_oov"))
  }

  val qOovRateSql: String = {
    val vocabList = vocab.map(v => s"'$v'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
       |ne AS (SELECT source, token FROM toks WHERE token <> ''),
       |inst AS (
       |  SELECT source, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN token NOT IN $vocabList THEN 1 ELSE 0 END)
       |         AS BIGINT) AS oov_tokens
       |  FROM ne GROUP BY source),
       |ty AS (
       |  SELECT source, COUNT(DISTINCT token) AS distinct_oov FROM ne
       |  WHERE token NOT IN $vocabList GROUP BY source)
       |SELECT inst.source, inst.n_tokens, inst.oov_tokens,
       |  COALESCE(ty.distinct_oov, 0) AS distinct_oov
       |FROM inst LEFT JOIN ty USING (source)""".stripMargin
  }

  /** Blocked fuzzy matching over the corpus 3-gram shingle vocabulary —
    * the entity-resolution primitive (typo'd titles, OCR variants, crawl
    * artifacts) expressed relationally: never an all-pairs levenshtein.
    * Three rotated blocking passes (fix words {1,2}, {2,3}, {1,3}; vary
    * the remaining position) jointly cover every single-position
    * substitution; pairs differing in 2+ positions are out of recall BY
    * DESIGN — the standard blocking tradeoff, bounded and documented
    * rather than quadratic.
    *
    * Scale: the distinct vocabulary is built once and persisted; each
    * pass self-joins only within its block. Hot blocks (a ubiquitous
    * fixed-word pair) are dropped via a broadcast anti-join when they
    * exceed maxBlock members — q49's hot-shingle cap applied to blocks,
    * keeping the worst block quadratic cost ≤ maxBlock² regardless of
    * corpus size (the oracle mirrors the cap, so semantics stay exact
    * over the capped universe).
    */
  def fuzzyShinglePairs(docs: DataFrame, maxDist: Int = 2,
      maxBlock: Int = 10000): DataFrame = {
    // per-doc distinct shingles via the fused zero-copy expression
    // (sub-3-token docs emit an empty array, so they yield no rows)
    val sh = docs
      .select(explode(WordShingles.column(col("text"), 3, dedup = true)).as("shingle"))
      .distinct()
      .withColumn("w", split(col("shingle"), " "))
      .persist()
    // All three rotated blocking passes fused into ONE self-join: each
    // shingle emits its three (pass-tagged) block keys row-locally, so
    // one hot-block cap + one join replace three of each — same
    // candidate set, a third of the job overhead. The pass tag keeps
    // blocks from different rotations from cross-joining. The key is
    // xxhash64'd to 8 bytes BEFORE the shuffle — the exchange and the
    // join hash table carry a long, not a two-word string. A collision
    // merging two blocks usually only ADDs candidates (the exact
    // levenshtein filter re-screens them) — but it interacts with the
    // maxBlock hot-block cap: if the merged block's member count crosses
    // the cap, the WHOLE merged block is dropped, REMOVING candidates the
    // string-keyed oracle keeps. Divergence is therefore two-directional;
    // both directions carry the same ~|blocks|²/2⁶⁵ odds, accepted like
    // q47/q48.
    def bk(tag: String, i: Int, j: Int) =
      xxhash64(lit(tag), col("w").getItem(i), col("w").getItem(j))
    val blocked = sh.select(col("shingle"),
      explode(array(bk("01", 0, 1), bk("12", 1, 2), bk("02", 0, 2))).as("bk"))
    // The hot cap rides a co-partitioned semi-join against the KEPT
    // counts, not a driver-broadcast anti-join against the hot keys — the
    // counts aggregate's output is already hash(bk)-partitioned, as is
    // the self-join, so the semi adds no exchange and no broadcast
    // construction job. Partial aggregation still absorbs hot blocks
    // map-side; no block's rows ever concentrate in one task.
    // Build-side bound: `kept` spans every NON-hot block
    // key — ≤ 3·|distinct shingles| rows, i.e. it grows with corpus
    // VOCABULARY where an anti-join's build side (the hot set) would be
    // output-bounded. The growth is hash-partitioned 8-byte keys
    // (~24 B/row in the per-task hash map ⟹ ~1 GB per 40M vocab terms
    // per task at 32 partitions — fine far past the audited scales), and
    // ShuffledHashJoin's build side spills to disk past
    // spark.sql.shuffledHashJoin.* memory (Spark's fallback, not ours),
    // so a web-scale vocabulary degrades to spilled lookups rather than
    // OOM. At 100 TB, raise the partition count with the vocabulary —
    // the semi re-partitions with the join it rides.
    val kept = blocked.groupBy(col("bk")).agg(count(lit(1)).as("members"))
      .where(col("members") <= maxBlock).select(col("bk"))
      .hint("shuffle_hash")
    // Persisted post-semi (the q49 posting-cache rule): AQE's exchange
    // reuse misses the self-join's two canonically-identical sides, so
    // without the cache each run re-runs the blocked explode + bk
    // exchange + semi TWICE.
    // Both sides scan this cache, whose preserved hashpartitioning(bk)
    // also satisfies the shuffled-hash join — no exchange above the cache.
    // Bounded by 3·|distinct shingles| blocked rows (the semi build-side
    // bound above); eager fill per the fork-cache rule.
    val keep = blocked.join(kept, Seq("bk"), "left_semi")
      .persistFilled()
    // Thresholded levenshtein (banded O(k·n) with early exit, returns -1
    // past the bound) screens every in-block candidate — the hot loop —
    // instead of the full O(n²) DP; the bounded call returns the EXACT
    // distance for every kept pair (≤ maxDist), so `dist` and the
    // oracle's unbounded spelling agree on the surviving rows.
    //
    // No distinct on the pair set, by proof: a surviving pair agrees on
    // exactly the two word positions its pass fixes — two DISTINCT
    // 2-subsets of {0,1,2} union to all three positions, i.e. a pair
    // found by two passes would have all three words equal and be
    // excluded by sa < sb — so each pair exits exactly one rotation
    // pass, once. PRECONDITION: the proof counts one
    // blocked row per (shingle, pass) — that is exactly the
    // `.distinct()` on `sh` above (corpus-unique shingles). Relaxing
    // that distinct would emit one row per OCCURRENCE per pass and
    // duplicate pairs straight into the top-50; CurationSpec pins
    // count == countDistinct on a corpus with repeated shingles. (Under an xxhash64 block-key collision a pair could
    // exit twice and emit a duplicate row — the same ~|blocks|²/2⁶⁵
    // odds class as the cap divergence above, accepted.)
    keep.select(col("bk"), col("shingle").as("sa"))
      .join(keep.select(col("bk"), col("shingle").as("sb"))
        // shuffle_hash: block self-joins partition by the block key,
        // never broadcast (quadratic output)
        .hint("shuffle_hash"), Seq("bk"))
      .where(col("sa") < col("sb") &&
        levenshtein(col("sa"), col("sb"), maxDist) >= 0)
      .select(col("sa").as("shingle_a"), col("sb").as("shingle_b"),
        levenshtein(col("sa"), col("sb"), maxDist).as("dist"))
  }

  /** q116: top-50 fuzzy shingle pairs, (dist, a, b)-ordered. */
  def qFuzzyPairs(s: SparkSession, dir: String): DataFrame =
    fuzzyShinglePairs(t(s, dir, "documents"))
      .orderBy(col("dist").asc, col("shingle_a").asc, col("shingle_b").asc)
      .limit(50)

  val qFuzzyPairsSql: String = {
    def pass(i: Int, j: Int): String =
      s"""SELECT a.shingle AS sa, b.shingle AS sb
         |  FROM (SELECT shingle, w[$i] || ' ' || w[$j] AS bk FROM kept$i$j) a
         |  JOIN (SELECT shingle, w[$i] || ' ' || w[$j] AS bk FROM kept$i$j) b
         |    USING (bk)
         |  WHERE a.shingle < b.shingle
         |    AND levenshtein(a.shingle, b.shingle) <= 2""".stripMargin
    def kept(i: Int, j: Int): String =
      s"""kept$i$j AS (
         |  SELECT shingle, w FROM v
         |  WHERE w[$i] || ' ' || w[$j] NOT IN (
         |    SELECT w[$i] || ' ' || w[$j] FROM v
         |    GROUP BY 1 HAVING COUNT(*) > 10000))""".stripMargin
    s"""WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents
       |           WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT DISTINCT unnest(list_transform(
       |         generate_series(1, len(toks) - 2),
       |         i -> array_to_string(toks[i:i+2], ' '))) AS shingle
       |       FROM d),
       |v AS (SELECT shingle, string_split(shingle, ' ') AS w FROM sh),
       |${kept(1, 2)},
       |${kept(2, 3)},
       |${kept(1, 3)},
       |u AS (
       |${pass(1, 2)}
       |UNION
       |${pass(2, 3)}
       |UNION
       |${pass(1, 3)})
       |SELECT sa AS shingle_a, sb AS shingle_b,
       |  levenshtein(sa, sb) AS dist
       |FROM u
       |ORDER BY dist ASC, shingle_a ASC, shingle_b ASC LIMIT 50""".stripMargin
  }

  /** q123: sliding-window chunking with overlap — the training-window cut
    * (window 30 tokens, stride 20, so consecutive chunks share 10): chunk
    * i covers tokens [i*20+1, i*20+30] for i in 0..⌊(n−1)/20⌋ (the last
    * window may run short; every token is covered at least once). The cut
    * itself is row-local (`transform(sequence)`) — the only shuffle is
    * the distinct-chunk count keyed on chunk content, which is what turns
    * this from bookkeeping into the overlap-dedup signal a packing run
    * needs (overlapped windows of duplicated text collapse).
    */
  def qOverlapChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("toks", toks(col("text")))
    val chunks = docs.select(col("source"),
      explode(expr(
        "transform(sequence(0, (size(toks) - 1) DIV 20), " +
          "i -> concat_ws(' ', slice(toks, i * 20 + 1, 30)))")).as("chunk"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val agg = chunks.groupBy(col("source")).agg(
      count(lit(1)).as("n_chunks"),
      sum(size(split(col("chunk"), " "))).as("n_chunk_tokens"),
      countDistinct(md5(col("chunk"))).as("n_distinct_chunks"))
    nd.join(broadcast(agg), Seq("source"))
  }

  val qOverlapChunksSql: String =
    """WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
      |ch AS (
      |  SELECT source, unnest(list_transform(
      |    generate_series(0, (len(toks) - 1) // 20),
      |    i -> array_to_string(toks[i*20+1 : i*20+30], ' '))) AS chunk
      |  FROM d),
      |nd AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source)
      |SELECT source, nd.n_docs, COUNT(*) AS n_chunks,
      |  CAST(SUM(len(string_split(chunk, ' '))) AS BIGINT) AS n_chunk_tokens,
      |  COUNT(DISTINCT md5(chunk)) AS n_distinct_chunks
      |FROM ch JOIN nd USING (source)
      |GROUP BY source, nd.n_docs""".stripMargin

  /** q132: global token-offset manifest — each document's starting offset
    * in the virtual concatenation of the corpus in (source, doc_id)
    * order, the index a packed-training-file writer emits. A naive global
    * cumsum is a single-partition window; this is the scalable two-phase
    * prefix sum instead: (1) within-source running totals via a window
    * partitioned by source, (2) per-source base offsets from the BOUNDED
    * per-source totals frame (cumsum over |sources| rows), broadcast back.
    * Same decomposition as q126's day-carry: heavy work partitioned,
    * cross-partition state reduced to a tiny frame.
    */
  def qTokenManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val within = docs.withColumn("local_off",
      coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    val wSrc = org.apache.spark.sql.expressions.Window
      .orderBy(col("source"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bases = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_total"))
      .withColumn("base", coalesce(sum(col("src_total")).over(wSrc), lit(0L)))
      .select(col("source"), col("base"))
    within.join(broadcast(bases), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("base") + col("local_off")).as("offset"))
  }

  val qTokenManifestSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |within AS (
      |  SELECT doc_id, source, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_off
      |  FROM d),
      |bases AS (
      |  SELECT source,
      |    COALESCE(SUM(src_total) OVER (ORDER BY source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      |  FROM (SELECT source, SUM(n_tokens) AS src_total FROM d GROUP BY source))
      |SELECT doc_id, within.source, n_tokens,
      |  CAST(base + local_off AS BIGINT) AS offset
      |FROM within JOIN bases ON within.source = bases.source""".stripMargin

  /** Domains dropped by the URL blocklist pass (the C4 "bad-domain" list;
    * in production this is a broadcast table — here a literal because the
    * oracle must spell the same set).
    */
  private val DomainBlocklist = Seq("src3", "src7", "src13")

  /** q179: C4-style URL/domain filter stack — the preprocessing pass a web
    * corpus runs BEFORE any content heuristics: synthesize each document's
    * canonical URL (deterministically from source + doc_id, since the
    * synthetic corpus carries no URL column), parse it back into
    * host/registered-domain/TLD, then apply the two-stage gate: (1) the
    * domain blocklist (C4's bad-domain list), (2) a minimum-length quality
    * floor for docs that survive (1). Output is the per-TLD triage report
    * (kept / blocked_domain / blocked_quality) a curation run publishes.
    *
    * Scale: URL synthesis + `parse_url` + regexp extraction are row-local
    * codegen'd expressions — zero shuffles until the final |TLD|×|status|
    * group-by (combine-friendly counts + avg; countDistinct(domain) over a
    * domain universe that is orders of magnitude below row count). The
    * blocklist is a literal `isin` here; at a real 100 TB run it becomes a
    * broadcast left_anti join against the blocklist table — either way the
    * probe side never shuffles.
    */
  def qUrlFilterStack(s: SparkSession, dir: String): DataFrame = {
    val tlds = array(lit(".com"), lit(".org"), lit(".net"), lit(".io"))
    val withUrl = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
      concat(lit("https://www."), col("source"),
        element_at(tlds, (col("doc_id") % 4).cast("int") + 1),
        lit("/doc/"), col("doc_id").cast("string")).as("url"))
    // Host via the same regexp spelling as the oracle (ADVICE r9):
    // parse_url routes through java.net.URI and yields NULL for
    // URI-invalid characters where a plain regexp still extracts — one
    // shared derivation keeps both engines bit-identical on any source.
    // The pattern skips userinfo and stops before port/path (ADVICE r10),
    // and — unlike parse_url — yields '' (not NULL) on non-matching
    // input; both engines share that convention by construction.
    val parsed = withUrl
      .withColumn("host",
        regexp_extract(col("url"), "^https?://(?:[^/@]*@)?([^/:]+)", 1))
      .withColumn("domain", regexp_extract(col("host"), "^www\\.([^.]+)\\.", 1))
      .withColumn("tld", regexp_extract(col("host"), "\\.([a-z]+)$", 1))
    parsed
      .withColumn("status",
        when(col("domain").isin(DomainBlocklist: _*), lit("blocked_domain"))
          .when(col("n_chars") < 200, lit("blocked_quality"))
          .otherwise(lit("kept")))
      .groupBy(col("tld"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("domain")).as("n_domains"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
  }

  val qUrlFilterStackSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars,
      |    'https://www.' || source ||
      |      (['.com', '.org', '.net', '.io'])[CAST(doc_id % 4 AS INT) + 1] ||
      |      '/doc/' || doc_id AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, n_chars,
      |    regexp_extract(url, '^https?://(?:[^/@]*@)?([^/:]+)', 1) AS host
      |  FROM d),
      |q AS (
      |  SELECT doc_id, n_chars,
      |    regexp_extract(host, '^www\.([^.]+)\.', 1) AS domain,
      |    regexp_extract(host, '\.([a-z]+)$', 1) AS tld
      |  FROM p),
      |st AS (
      |  SELECT tld, n_chars, domain,
      |    CASE WHEN domain IN ('src3', 'src7', 'src13') THEN 'blocked_domain'
      |         WHEN n_chars < 200 THEN 'blocked_quality'
      |         ELSE 'kept' END AS status
      |  FROM q)
      |SELECT tld, status, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT domain) AS n_domains,
      |  ROUND(AVG(n_chars), 2) AS avg_chars
      |FROM st GROUP BY tld, status""".stripMargin

  /** Exact-substring duplication stats (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 — the
    * suffix-array ExactSubstr pass, re-expressed for a shuffle engine at
    * sliding-gram granularity): a doc position is duplicated iff the
    * k-token gram starting there also appears in ANOTHER document. Emits
    * per-doc gram counts, duplicated-gram counts, the duplicated fraction,
    * and the ≥50% drop verdict. A true suffix array is a single-machine
    * structure; the equivalent corpus-scale signal is the stride-1 gram
    * (vs q111's disjoint chunks — stride k — which miss duplicates that
    * straddle chunk cuts; stride 1 catches every alignment).
    *
    * Scale: gram emission is row-local (`transform(sequence)` + explode —
    * never materializing the quadratic suffix set); the stream flows
    * through exactly two decreasing shuffles and NO persist: (1) ONE
    * gkey repartition below which nothing reduces anyway, feeding both
    * the (gkey, doc_id) aggregate that dedupes in-doc repeats while
    * keeping the per-doc instance count AND the gkey-partitioned window
    * that derives the per-gram document count `nd` (no countDistinct +
    * dup-set join back onto a persisted raw stream, which re-shuffles
    * the whole corpus and caches it) — then (2) one doc_id rollup sums
    * instance counts under the nd≥2 flag.
    */
  def substringDupStats(docs: DataFrame, k: Int = 10): DataFrame = {
    // k-gram emission via the fused zero-copy expression (sub-k-token
    // docs emit an empty array, so they yield no rows)
    val keyed = docs
      .select(col("doc_id"),
        explode(WordShingles.column(col("text"), k, dedup = false)).as("gram"))
      .select(col("doc_id"), col("gram").as("gkey"))
    // Join-free: one (gkey, doc_id) aggregate dedupes the stream and
    // keeps the per-doc instance count; nd = per-gram doc count rides a
    // window over the deduped frame (no join back onto the raw stream,
    // no corpus-sized cache); the doc rollup sums cnt under the nd≥2
    // flag. Exact integer counts.
    // Two operations keyed the same way share one exchange: stride-1
    // k-grams are near-unique within a doc, so a map-side partial dedup
    // reduces nothing, and repartitioning on gkey ONCE below the
    // aggregate satisfies BOTH the aggregate's clustering (gkey is a
    // prefix of (gkey, doc_id)) and the window's partitionBy(gkey) — the
    // window needs only a local sort. Two decreasing shuffles total.
    val perDocGram = keyed.repartition(col("gkey"))
      .groupBy(col("gkey"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
    val flagged = perDocGram.withColumn("nd",
      count(lit(1)).over(Window.partitionBy(col("gkey"))))
    flagged.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        coalesce(sum(when(col("nd") >= 2, col("cnt"))), lit(0L))
          .as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6)
          .as("dup_frac"),
        when(col("n_dup_grams").cast("double") / col("n_grams") >= 0.5, 1)
          .otherwise(0).as("drop_doc"))
  }

  /** q180: per-doc exact-substring duplication report at k=10. */
  def qSubstringDedup(s: SparkSession, dir: String): DataFrame =
    substringDupStats(t(s, dir, "documents"))

  val qSubstringDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(toks) - 9),
      |    i -> array_to_string(toks[i:i+9], ' '))) AS gram
      |  FROM d WHERE len(toks) >= 10),
      |dup AS (SELECT gram FROM g GROUP BY gram
      |        HAVING COUNT(DISTINCT doc_id) >= 2),
      |per AS (
      |  SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(dup.gram) AS n_dup_grams
      |  FROM g LEFT JOIN dup USING (gram) GROUP BY g.doc_id)
      |SELECT doc_id, n_grams, n_dup_grams,
      |  ROUND(CAST(n_dup_grams AS DOUBLE) / n_grams, 6) AS dup_frac,
      |  CAST(CAST(n_dup_grams AS DOUBLE) / n_grams >= 0.5 AS INT) AS drop_doc
      |FROM per""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_token_manifest" -> (qTokenManifest _),
    "q123_overlap_chunks" -> (qOverlapChunks _),
    "q111_chunk_dedup" -> (qChunkDedup _),
    "q112_keep_best" -> (qKeepBest _),
    "q113_mad_robust" -> (qMadRobust _),
    "q114_group_heavy_hitters" -> (qGroupHeavyHitters _),
    "q115_oov_rate" -> (qOovRate _),
    "q116_fuzzy_pairs" -> (qFuzzyPairs _),
    "q179_url_filter_stack" -> (qUrlFilterStack _),
    "q180_substring_dedup" -> (qSubstringDedup _))

  val oracle: Map[String, String] = Map(
    "q132_token_manifest" -> qTokenManifestSql,
    "q123_overlap_chunks" -> qOverlapChunksSql,
    "q111_chunk_dedup" -> qChunkDedupSql,
    "q112_keep_best" -> qKeepBestSql,
    "q113_mad_robust" -> qMadRobustSql,
    "q114_group_heavy_hitters" -> qGroupHeavyHittersSql,
    "q115_oov_rate" -> qOovRateSql,
    "q116_fuzzy_pairs" -> qFuzzyPairsSql,
    "q179_url_filter_stack" -> qUrlFilterStackSql,
    "q180_substring_dedup" -> qSubstringDedupSql)
}
