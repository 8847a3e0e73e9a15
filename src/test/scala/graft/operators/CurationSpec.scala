package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Semantics of the curation pass beyond the DuckDB gate: the keep-best
  * policy picks the documented survivor, chunk-dedup accounting balances
  * globally, the per-group MG margin guard actually fires, and OOV
  * screening hits its boundary cases.
  */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** documents.parquet in a temp dir with just the columns curation uses. */
  private def docsDir(rows: Seq[(Long, String, String, Long)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_curation").toString
    rows.toDF("doc_id", "text", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("keep-best keeps the longest doc per prefix key, ties to smallest doc_id") {
    val dir = docsDir(Seq(
      // same 5-token prefix "a b c d e": lengths 30 < 40 = 40 (tie)
      (10L, "a b c d e x", "s1", 30L),
      (11L, "a b c d e y y", "s1", 40L),
      (12L, "a b c d e z z", "s2", 40L),
      // singleton group
      (20L, "p q r s t", "s2", 25L)))
    val got = Curation.qKeepBest(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // group "a b c d e": max n_chars = 40 twice -> doc 11 (smaller id) wins
    val want = Set(
      ("s1", 2L, 1L, 1L, 40L),   // doc 11 kept, doc 10 dropped
      ("s2", 2L, 1L, 1L, 25L))   // doc 20 kept, doc 12 dropped (lost tie)
    assert(got == want)
  }

  test("substring-dedup: shared 12-token prefix dups 3 of 6 grams; intra-doc repeats don't count") {
    val a = (1 to 15).map(i => s"t$i").mkString(" ")
    val b = ((1 to 12).map(i => s"t$i") ++ Seq("b13", "b14", "b15")).mkString(" ")
    val c = (1 to 15).map(i => s"c$i").mkString(" ")
    // 20 tokens, second half repeats the first: the self-repeat must NOT
    // count as duplication (dup needs >= 2 DISTINCT docs)
    val d = ((1 to 10).map(i => s"d$i") ++ (1 to 10).map(i => s"d$i")).mkString(" ")
    val dir = docsDir(Seq(
      (1L, a, "s1", 1L), (2L, b, "s1", 1L), (3L, c, "s1", 1L), (4L, d, "s1", 1L)))
    val got = Curation.qSubstringDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSet
    // a/b share tokens 1..12 -> grams starting at 1..3 match (10-token
    // windows fit inside the shared prefix); 3/6 = 0.5 crosses the drop bar
    val want = Set(
      (1L, 6L, 3L, 0.5, 1),
      (2L, 6L, 3L, 0.5, 1),
      (3L, 6L, 0L, 0.0, 0),
      (4L, 11L, 0L, 0.0, 0))
    assert(got == want)
  }

  test("url filter stack: blocklist precedes quality; 200-char floor is strict") {
    val dir = docsDir(Seq(
      (0L, "x", "src3", 500L),  // doc_id%4=0 -> .com; blocklisted domain wins over length
      (1L, "x", "src1", 199L),  // .org; 199 < 200 -> blocked_quality
      (2L, "x", "src1", 200L),  // .net; exactly 200 -> kept
      (3L, "x", "src2", 300L))) // .io; kept
    val got = Curation.qUrlFilterStack(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val want = Set(
      ("com", "blocked_domain", 1L, 1L, 500.0),
      ("org", "blocked_quality", 1L, 1L, 199.0),
      ("net", "kept", 1L, 1L, 200.0),
      ("io", "kept", 1L, 1L, 300.0))
    assert(got == want)
  }

  test("token manifest: offsets chain within source and across source bases") {
    val dir = docsDir(Seq(
      (1L, "a b c", "A", 1L), (3L, "d e", "A", 1L),   // A: 3 + 2 tokens
      (2L, "p q r s t", "B", 1L)))                     // B starts at 5
    val got = Curation.qTokenManifest(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> (("A", 3L, 0L)), 3L -> (("A", 2L, 3L)), 2L -> (("B", 5L, 5L))))
  }

  test("overlap chunking: window/stride coverage arithmetic and dup collapse") {
    // 30 toks -> chunks [1..30],[21..30]: 2 chunks, 40 chunk-tokens
    // 20 toks -> 1 chunk of 20; 41 toks -> [1..30],[21..41],[41]: 30+21+1
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq(
      (1L, words(30), "s1", 1L), (2L, words(20), "s1", 1L),
      (3L, words(41), "s2", 1L),
      (4L, words(30), "s3", 1L), (5L, words(30), "s3", 1L))) // identical docs
    val got = Curation.qOverlapChunks(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("s1") == ((2L, 3L, 60L, 3L)))   // 2+1 chunks, 40+20 tokens, all distinct
    assert(got("s2") == ((1L, 3L, 52L, 3L)))
    assert(got("s3") == ((2L, 4L, 80L, 2L)))   // dup doc -> 4 chunks, 2 distinct
  }

  test("chunk-dedup accounting balances: kept sums to distinct, totals to instances") {
    val dir = "/root/testdata/sf0.001"
    val out = Curation.qChunkDedup(spark, dir).collect()
    val chunks = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1), " +
          "i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))")).as("chunk"))
    assert(out.map(_.getLong(1)).sum == chunks.count())
    assert(out.map(_.getLong(2)).sum == chunks.distinct().count())
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("chunk-dedup credits the first occurrence by (doc_id, idx)") {
    // doc 1 owns both chunks; doc 2 (other source) repeats doc 1's text
    val text = (1 to 20).map(i => s"w$i").mkString(" ")
    val dir = docsDir(Seq(
      (1L, text, "first", 100L),
      (2L, text, "second", 100L)))
    val got = Curation.qChunkDedup(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("first", 2L, 2L), ("second", 2L, 0L)))
  }

  test("q114's two spellings agree on a guard-passing corpus") {
    // per source: 6 distinct tokens with counts 100/90/80/70/60/5 →
    // n_src = 405, floor 405/65 ≈ 6.2, top-5 all clear it, and 6 < cap
    // so no sketch ever evicts — the certified single pass and the
    // recount fallback must return the identical exact top-5
    def srcDocs(src: String, off: Int): Seq[(Long, String, String, Long)] = {
      val text = (1 to 6).flatMap(t =>
        Seq.fill(Seq(100, 90, 80, 70, 60, 5)(t - 1))(s"${src}_tok$t")).mkString(" ")
      Seq(((off + 1).toLong, text, src, text.length.toLong))
    }
    val dir = docsDir(srcDocs("alpha", 0) ++ srcDocs("beta", 10))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val lazyRows = rows(Curation.qGroupHeavyHitters(spark, dir))
    val recount = rows(Curation.qGroupHeavyHittersRecount(spark, dir))
    assert(lazyRows === recount)
    assert(lazyRows.size === 10) // 5 per source
    assert(lazyRows.contains(("alpha", 1, "alpha_tok1", 100L)))
    assert(lazyRows.contains(("beta", 5, "beta_tok5", 60L)))
  }

  test("q114 treats a NULL source as just another group, matching the SQL oracle") {
    // a NULL-source group returns its true top-5 exactly like DuckDB's
    // PARTITION BY source does — on the certified single pass and on
    // the recount fallback, whose joins must match NULL to NULL
    val dir = docsDir(Seq((1L, "a a a a a a b c d e f", null, 21L)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._2)
    val want = Seq(
      (None, 1, "a", 6L), (None, 2, "b", 1L), (None, 3, "c", 1L),
      (None, 4, "d", 1L), (None, 5, "e", 1L))
    assert(rows(Curation.qGroupHeavyHitters(spark, dir)) === want)
    assert(rows(Curation.qGroupHeavyHittersRecount(spark, dir)) === want)
  }

  test("q114 certifies a near-uniform source exactly when its vocab fits the capacity") {
    // source "flat": 2000 distinct tokens twice each — under the r13
    // k=64 sketch this broke the n/(k+1) floor and had to raise; with
    // the r14 capacity (1<<16) no eviction ever fires, the sketch's
    // err == 0 certificate proves every count exact, and the query
    // returns the true top-5 (all cnt 2, ties by token ASC) in a single
    // certified pass instead of refusing
    val flatDocs = (1 to 200).map { d =>
      val t0 = (d - 1) * 10
      (d.toLong, (1 to 10).map(i => s"tok_${t0 + i} tok_${t0 + i}").mkString(" "),
        "flat", 100L)
    }
    val dir = docsDir(flatDocs)
    val got = Curation.qGroupHeavyHitters(spark, dir)
    val rows = got.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val want = (1 to 5).map(i =>
      ("flat", i, Seq("tok_1", "tok_10", "tok_100", "tok_1000", "tok_1001")(i - 1), 2L))
    assert(rows.toSeq === want)
    // and the certified plan must be single-pass: no recount scan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("token_term_counts"),
      "certified path must not carry the recount scan")
  }

  test("q114's per-source margin guard raises when a source's vocab overflows the capacity") {
    // source "huge": 70_000 distinct tokens once each — overflows the
    // 1<<16 sketch capacity, so err > 0 voids the certificate and the
    // certified single pass must refuse rather than return
    // maybe-undercounted estimates (the common token keeps the
    // compacted sketch non-empty, pinning that the guard fires on the
    // ARRAY, not via an accidentally-empty explode)
    val hugeDocs = (1 to 70).map { d =>
      val t0 = (d - 1) * 1000
      (d.toLong,
        (Seq.fill(20)("common_tok") ++ (1 to 1000).map(i => s"tok_${t0 + i}"))
          .mkString(" "),
        "huge", 100L)
    }
    val dir = docsDir(hugeDocs)
    val e = intercept[Exception] {
      Curation.qGroupHeavyHitters(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("q114 MG safety margin violated") &&
      m.contains("qGroupHeavyHittersRecount")), s"wrong failure: $e")
  }

  test("the recount fallback returns a group's true shorter list") {
    // source "short" has 3 types next to a 6-type source: its candidates'
    // counts add up to its n, so every token was a candidate and the
    // 3-row list is exact, as on the single pass; likewise a corpus with
    // no tokens at all returns no q103 rows
    val six = (1 to 6).flatMap(t => Seq.fill(7 - t)(s"w$t")).mkString(" ")
    val dir = docsDir(Seq((1L, "a a b c", "short", 7L), (2L, six, "six", 41L)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val want = Set(("short", 1, "a", 2L), ("short", 2, "b", 1L), ("short", 3, "c", 1L)) ++
      (1 to 5).map(t => ("six", t, s"w$t", (7 - t).toLong))
    assert(rows(Curation.qGroupHeavyHitters(spark, dir)) === want)
    assert(rows(Curation.qGroupHeavyHittersRecount(spark, dir)) === want)
    val empty = docsDir(Seq((1L, "", "none", 0L)))
    assert(TextOps.qHeavyHittersRecount(spark, empty).collect().isEmpty)
  }

  test("q114's recount fallback refuses a source too flat to certify") {
    // source "flat": 70_000 distinct tokens twice each overflow the 1<<16
    // capacity, so the sketch's error plus its 65th estimate is at least
    // 2 and no count of 2 clears it; the 65 candidates miss the true
    // top-5 (the five smallest tokens), so the fallback must refuse and
    // point at an exact count
    val flatDocs = (1 to 70).map { d =>
      val t0 = (d - 1) * 1000
      (d.toLong, (1 to 1000).map(i => s"tok_${t0 + i} tok_${t0 + i}").mkString(" "),
        "flat", 100L)
    }
    val dir = docsDir(flatDocs)
    val e = intercept[Exception] {
      Curation.qGroupHeavyHittersRecount(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("q114 MG safety margin violated for source flat") &&
      m.contains("TextOps.qTokenFreq")), s"wrong failure: $e")
  }

  test("OOV boundary cases: all-vocab doc scores 0, all-OOV doc scores full") {
    val dir = docsDir(Seq(
      (1L, "the a table row", "vocab_only", 15L),
      (2L, "zz yy zz", "oov_only", 8L)))
    val got = Curation.qOovRate(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      ("vocab_only", 4L, 0L, 0L),
      ("oov_only", 3L, 3L, 2L)))
  }

  test("fuzzy pairs: each rotated block catches its substitution position; 2-word diffs are out of recall") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc"),   // vs doc2: 3rd word differs -> block (w1,w2)
      (2L, "aa bb cx"),
      (3L, "aa by cc"),   // vs doc1: 2nd word differs -> block (w1,w3)
      (4L, "ax bb cc"),   // vs doc1: 1st word differs -> block (w2,w3)
      (5L, "aa bz cz")    // vs doc1: 2 words differ -> no block, by design
    ).toDF("doc_id", "text")
    val got = Curation.fuzzyShinglePairs(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got.contains(("aa bb cc", "aa bb cx", 1)), "tail-substitution missed")
    assert(got.contains(("aa bb cc", "aa by cc", 1)), "middle-substitution missed")
    assert(got.contains(("aa bb cc", "ax bb cc", 1)), "head-substitution missed")
    assert(!got.exists(p => p._1 == "aa bz cz" || p._2 == "aa bz cz"),
      "2-position diff should be outside blocking recall")
  }

  test("thresholded levenshtein screen agrees with the unbounded oracle spelling") {
    // The q116 candidate filter uses levenshtein(a, b, k) (banded,
    // early-exit, -1 past the bound); the oracle keeps the unbounded
    // spelling. Pin the contract the swap relies on: within the bound
    // the distances are EQUAL, past it the bounded call reports -1
    // exactly when the true distance exceeds k.
    import spark.implicits._
    val pairs = Seq(
      ("aa bb cc", "aa bb cc"), ("aa bb cc", "aa bb cx"),
      ("aa bb cc", "ax by cc"), ("aa bb cc", "xx yy zz"),
      ("short", "a much longer string"), ("", "ab"))
      .toDF("a", "b")
    val rows = pairs.selectExpr(
      "levenshtein(a, b) AS full",
      "levenshtein(a, b, 2) AS bounded").collect()
    rows.foreach { r =>
      val (full, bounded) = (r.getInt(0), r.getInt(1))
      if (full <= 2) assert(bounded == full, s"bounded=$bounded full=$full")
      else assert(bounded == -1, s"expected -1 past bound, got $bounded (full=$full)")
    }
  }

  test("fuzzy pairs: hot blocks above maxBlock are capped out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb c1"), (2L, "aa bb c2"), (3L, "aa bb c3"))
      .toDF("doc_id", "text")
    // block (aa, bb) has 3 members: capped at maxBlock=2, and the rotated
    // blocks each hold singletons, so nothing can pair
    assert(Curation.fuzzyShinglePairs(docs, maxDist = 2, maxBlock = 2).count() == 0)
    // without the cap the same corpus pairs freely
    assert(Curation.fuzzyShinglePairs(docs, maxDist = 2, maxBlock = 100).count() == 3)
  }

  test("fuzzy pairs emit no duplicate rows on a corpus with repeated shingles") {
    // The r19 no-duplicates proof (each surviving pair exits exactly one
    // rotation pass) counts one blocked row per (shingle, pass), i.e. it
    // PRESUPPOSES the vocabulary `.distinct()` at the head of
    // fuzzyShinglePairs. Pin that precondition mechanically (r20,
    // advisor): a corpus where the same shingles recur across MANY docs
    // — each occurrence would emit its own blocked row if the distinct
    // were relaxed, turning every match into a duplicated output row —
    // must still produce a duplicate-free pair list.
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc dd"),   // shingles: "aa bb cc", "bb cc dd"
      (2L, "aa bb cc dd"),   // same shingles again (cross-doc repeats)
      (3L, "aa bb cc"),      // "aa bb cc" a third time
      (4L, "aa bb cx dd"),   // pairs with "aa bb cc" (tail sub) + "bb cx dd"
      (5L, "aa bb cx")       // "aa bb cx" again
    ).toDF("doc_id", "text")
    val pairs = Curation.fuzzyShinglePairs(docs)
    val n = pairs.count()
    val nDistinct = pairs.distinct().count()
    assert(n == nDistinct, s"duplicate pair rows: $n total vs $nDistinct distinct")
    assert(n > 0, "corpus should produce at least one fuzzy pair")
  }

  test("median and MAD are exact on a hand-computed group") {
    // n_chars 10, 20, 100 -> median 20, |x-20| = {10, 0, 80} -> MAD 10
    val dir = docsDir(Seq(
      (1L, "x", "s", 10L), (2L, "x", "s", 20L), (3L, "x", "s", 100L)))
    val r = Curation.qMadRobust(spark, dir).collect().head
    assert(r.getString(0) == "s" && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 20.0 && r.getDouble(3) == 10.0)
  }
}
