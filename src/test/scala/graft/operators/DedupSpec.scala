package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Near-dup mining oracles that SQL can't express: planted near-duplicates
  * must be recovered by the MinHash/LSH and SimHash paths, with exact
  * Jaccard as ground truth.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val vocab = Array("spark", "data", "join", "merge", "sort", "hash",
    "table", "scan", "row", "column", "batch", "stream", "query", "filter",
    "group", "agg", "window", "key", "value", "part", "order", "line",
    "fast", "slow", "big", "small", "the", "a")

  /** 40 base docs of 60 tokens + 10 near-dups (one token mutated →
    * shingle-Jaccard ≈ 0.90) + 2 exact dups. Fixed seed.
    */
  private lazy val docs = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 60).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val nearDups = (0 until 10).map { i =>
      val toks = base(i)._2.split(" ")
      toks(30) = "MUTATED"
      (100L + i, toks.mkString(" "))
    }
    val exactDups = Seq((200L, base(20)._2), (201L, base(21)._2))
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  private val plantedPairs = (0 until 10).map(i => (i.toLong, 100L + i)).toSet

  /** `docs` written as `documents.parquet`, for the queries that read a dir. */
  private lazy val docsDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact Jaccard ground truth: planted pairs score ≈ 0.9, exact dups 1.0") {
    val pairs = PerDocSpellings.filteredJaccard(docs)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    plantedPairs.foreach { p =>
      assert(pairs.contains(p), s"planted pair $p not found by inverted index")
      assert(pairs(p) > 0.8 && pairs(p) < 1.0, s"unexpected jaccard ${pairs(p)} for $p")
    }
    assert(pairs((20L, 200L)) == 1.0)
    assert(pairs((21L, 201L)) == 1.0)
  }

  /** `texts` as (doc_id, text) rows written to `documents.parquet`. */
  private def docsDirOf(texts: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_cap").toString
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** q49's rows as (doc_a, doc_b, common, jaccard). */
  private def q49Rows(dir: String): Seq[(Long, Long, Long, Double)] =
    try graft.SparkEntry.queries("q49_jaccard_top_pairs")(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    finally spark.catalog.clearCache()

  test("jaccard df cap drops planted hot shingles; denominators use the filtered universe") {
    // Every doc opens with the same 5 tokens → 3 shingles with df = 10
    // (above the 0.5 cap). Docs 0 and 1 additionally share one rare
    // shingle "p q r"; the unique middle token u<i> isolates the boundary.
    val texts = (0 until 10).map { i =>
      val tail = if (i < 2) " p q r" else ""
      (i.toLong, s"x y z w v u$i$tail")
    }
    val capped = q49Rows(docsDirOf(texts))
    // Only (0,1) survives: all other pairs share nothing but hot shingles.
    // Filtered universe: docs 0/1 keep 4 non-hot shingles each → 1/(4+4-1).
    assert(capped == Seq((0L, 1L, 1L, 1.0 / 7)))
  }

  test("q49 df cap is strict: a shingle in exactly half the docs, counted by copies, stays") {
    // 10 docs. "p q r" is in 3 copies of one text and 2 copies of
    // another: 2 contents, copy-weighted df = 5 = n_docs/2, on the cap.
    // The 5 filler docs share no shingle with anything.
    val texts = (0 until 3).map(i => (i.toLong, "p q r s")) ++
      (3 until 5).map(i => (i.toLong, "p q r t")) ++
      (5 until 10).map(i => (i.toLong, s"f$i g$i h$i"))
    val got = q49Rows(docsDirOf(texts))
    // kept: both texts keep "p q r" (df 5 is not > 5) and their own tail
    // shingle, so every cross-text pair shares 1 of 2+2-1 = 3 shingles.
    // A >= cap would drop "p q r" and leave only the 4 same-text pairs.
    val same = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L)).map { case (a, b) => (a, b, 2L, 1.0) }
    val cross = for (a <- 0L to 2L; b <- 3L to 4L) yield (a, b, 1L, 1.0 / 3)
    assert(got == same ++ cross)
  }

  test("MinHash signature agreement estimates Jaccard for exact dups") {
    // identical text → identical minhash signature → all 8 band keys agree
    val bands = TextOps.qMinhashBands(spark, docsDir)
    def bandKeys(id: Long) = bands.where(col("doc_id") === id)
      .drop("doc_id").collect().head.toSeq
    assert(bandKeys(20L) == bandKeys(200L))
    assert(bandKeys(21L) == bandKeys(201L))
  }

  test("q56 content-layer candidates equal the per-doc md5 banded self-join") {
    // band keys are content functions, so expanding the content-level
    // pairs must emit exactly the per-doc candidate set
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      val shipped = pairs(TextOps.qMinhashCandidatePairs(spark, docsDir))
      val perDoc = pairs(PerDocSpellings.bandedCandidates(TextOps.qMinhashBands(spark, docsDir)))
      assert(shipped == perDoc,
        s"only-shipped=${(shipped -- perDoc).take(5)} only-perdoc=${(perDoc -- shipped).take(5)}")
      assert(plantedPairs.count(shipped.contains) >= 8,
        s"q56 recalled only ${plantedPairs.count(shipped.contains)}/10 planted pairs")
      // exact dups share every band in any hash family
      assert(shipped.contains((20L, 200L)) && shipped.contains((21L, 201L)))
    } finally spark.catalog.clearCache()
  }

  test("SimHash: identical text → identical hash; near-dup → small hamming; pairs mined via bands") {
    val bands = TextOps.qSimhashBands(spark, docsDir).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt)).toMap
    // the four 16-bit bands partition the 64 bits: summed bit_count(xor)
    // is the full hamming distance
    def hamming(a: Long, b: Long) = bands(a).zip(bands(b))
      .map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    assert(bands(20L) == bands(200L) && bands(21L) == bands(201L))
    val planted = plantedPairs.toSeq.map { case (a, b) => hamming(a, b) }
    assert(planted.forall(_ <= 12), s"planted hamming distances too large: $planted")
    // q55 blocks on the 4 bands and keeps hamming ≤ 3: by pigeonhole the
    // banding misses no such pair, so its output is the brute-force set
    val ids = bands.keys.toSeq.sorted
    val expected = (for (a <- ids; b <- ids if a < b && hamming(a, b) <= 3)
      yield (a, b, hamming(a, b))).toSet
    try {
      val found = graft.SparkEntry.queries("q55_simhash_near_dups")(spark, docsDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(found == expected && expected.contains((20L, 200L, 0)))
    } finally spark.catalog.clearCache()
  }

  test("exact dedup collapses identical content, keeps min doc_id") {
    val deduped = docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
    assert(deduped.count() == 50) // 52 docs, 2 exact dup pairs collapse
    val dups = deduped.where(col("n") > 1).collect()
    assert(dups.map(_.getAs[Long]("keep_id")).toSet == Set(20L, 21L))
  }

  test("connectedComponents: chain transitivity, isolated component, singletons") {
    import spark.implicits._
    val nodes = (1L to 10L).toDF("node")
    // component {1,2,3,4} via a chain (transitive closure needed),
    // component {7,8}, singletons 5,6,9,10
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    val got = TextOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(got(7L) == 7L && got(8L) == 7L)
    assert(Seq(5L, 6L, 9L, 10L).forall(n => got(n) == n))
  }

  test("connectedComponents: long path converges within diameter rounds") {
    import spark.implicits._
    val n = 30L
    val nodes = (1L to n).toDF("node")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    // driverBudget = 0: this test pins the LOOP's convergence, so bypass
    // the small-graph union-find fast path
    val got = TextOps.connectedComponents(nodes, edges, maxIters = 40, driverBudget = 0L)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L)) // one component, min label everywhere
  }

  test("connectedComponents: 1000-node path converges in O(log n) rounds") {
    import spark.implicits._
    // the adversarial case for min-label propagation: diameter 999, which
    // would need 999 propagation rounds; star rewiring must finish in ≤15
    // (≈ log₂ 1000 with constant headroom) or throw
    val n = 1000L
    val nodes = (1L to n).toDF("node")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = TextOps.connectedComponents(nodes, edges, maxIters = 15, driverBudget = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1000)
    assert(got.forall(_._2 == 1L))
  }

  test("connectedComponents: too few rounds for a fixpoint raise instead of a partial labeling") {
    import spark.implicits._
    val n = 200L
    val nodes = (1L to n).toDF("node")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    // 2 rounds cannot close a 200-node path; a truncated labeling would
    // split the one component into several
    intercept[IllegalStateException] {
      TextOps.connectedComponents(nodes, edges, maxIters = 2, driverBudget = 0L).collect()
    }
    val got = TextOps.connectedComponents(nodes, edges, maxIters = 20, driverBudget = 0L)
      .collect().map(r => r.getLong(1))
    assert(got.length == n && got.forall(_ == 1L))
  }

  test("connectedComponents: driver union-find fast path matches the distributed loop") {
    import spark.implicits._
    val nodes = (1L to 60L).toDF("node")
    val rnd = new scala.util.Random(11)
    val edges = ((1L to 14L).map(i => (i, i + 1)) ++ // chain (transitive depth)
      (16L to 29L).map(i => (16L, i + 1)) ++ // star
      (0 until 30).map { _ => // random clutter inside 31..45
        val a = 31L + rnd.nextInt(15); val b = 31L + rnd.nextInt(15); (a, b)
      }).toDF("a", "b")
    val fast = TextOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driverBudget = 0 forces the distributed star-rewiring loop
    val dist = TextOps.connectedComponents(nodes, edges, driverBudget = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    assert(Seq(1L to 15L: _*).forall(fast(_) == 1L))
    assert(Seq(46L to 60L: _*).forall(n => fast(n) == n))
  }

  test("q143 estimator audit: exact dups estimate 1.0 with zero error; est within MinHash bounds") {
    import spark.implicits._
    val got = TextOps.qMinhashErrorAudit(spark, docsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // the planted exact-dup pairs are candidates with est = exact = 1.0
    assert(got((20L, 200L)) == ((1.0, 1.0, 0.0)))
    assert(got((21L, 201L)) == ((1.0, 1.0, 0.0)))
    // every estimate is a k/32 fraction; errors bounded (k=32 -> sigma
    // <= 0.088, planted pairs have J ~ 0.9; 4 sigma is a safe spec bound)
    got.values.foreach { case (est, j, err) =>
      assert(est >= 0.0 && est <= 1.0 && (est * 32).round / 32.0 == est)
      assert(err == math.abs(est - j))
    }
    val planted = got.filter(kv => plantedPairs.contains(kv._1))
    assert(planted.nonEmpty)
    assert(planted.values.forall { case (_, _, err) => err <= 4 * 0.09 })
  }

  test("q146 survivors: keep longest then lowest id; per-source ledger") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_surv").toString
    Seq(
      (1L, "x", "s1", 5L), (2L, "x", "s1", 7L), (3L, "x", "s2", 7L),
      (4L, "y", "s2", 3L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // group "x" orders (2: 7 chars) < (3: 7 chars, higher id) < (1: 5) ->
    // keep doc 2 (s1); remove doc 3 (s2) and doc 1 (s1). "y": keep doc 4.
    val got = TextOps.qDedupSurvivors(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("s1") == ((2L, 1L, 1L, 50.0)))
    assert(got("s2") == ((2L, 1L, 1L, 50.0)))
  }

  test("q150 threshold sweep: counts monotone non-increasing; exact dups survive t=8") {
    import spark.implicits._
    val got = TextOps.qLshThresholdSweep(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical text -> identical signature -> all 8 bands agree: the two
    // planted exact-dup pairs must clear every threshold
    assert(got(8L) >= 2L)
    val counts = (1L to 8L).map(t => got.getOrElse(t, 0L))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // t=1 is exactly the q56 candidate-pair count
    assert(got(1L) == TextOps.qMinhashCandidatePairs(spark, docsDir).count())
  }

  test("langid query is deterministic and covers every language") {
    val a = TextOps.qLangId(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val b = TextOps.qLangId(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
    assert(a.map(_._1) == Set("de", "en", "es", "fr", "zh"))
    assert(a.forall { case (_, n, correct) => correct >= 0 && correct <= n })
  }
}
