package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-checked LM-statistics semantics (the oracle gate proves
  * Spark==DuckDB; this proves both match the MATH).
  */
class TextStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("corpus card: hand-computed datasheet row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_card").toString
    Seq(
      (1L, "a b", "en", "s1"), (2L, "a b", "en", "s1"),   // exact dup pair
      (3L, "a b c", "en", "s2"), (4L, "x", "fr", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.qCorpusCard(spark, dir).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 8L)       // docs, tokens
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L)       // sources, langs
    assert(r.getDouble(4) == 75.0)                         // pct_en
    assert(r.getDouble(5) == 2.0 && r.getDouble(6) == 2.0) // mean, p50
    assert(r.getDouble(7) == 25.0)                         // pct_exact_dup
  }

  test("bigram PMI matches hand-computed ln values") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pmi").toString
    // "x y x y z": bigrams xy:2, yx:1, yz:1 (N=4); unigrams x:2 y:2 z:1
    Seq((0L, "x y x y z", "s")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qBigramPmi(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("x", "y")) == ((2L, ln2)))   // ln(4*2/(2*2)) = ln 2
    assert(got(("y", "x")) == ((1L, 0.0)))   // ln(4*1/(2*2)) = 0
    assert(got(("y", "z")) == ((1L, ln2)))   // ln(4*1/(2*1)) = ln 2
  }

  test("BPE pair counting: overlapping pairs, word-frequency weighting, 1-char words skipped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bpe").toString
    // wf: aaa:2, ab:1, a:1 -> pairs: aa = 2 per "aaa" x freq 2 = 4; ab = 1
    Seq((0L, "aaa ab aaa a", "s")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qBpeMergeStep(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toList
    assert(got == List(("aa", 4L), ("ab", 1L)))
  }

  test("source entropy matches the hand-computed Shannon value") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ent").toString
    Seq((0L, "a a b", "s")).toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.qSourceEntropy(spark, dir).collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
    // H = ln 3 − round(2·ln 2, 6)/3, rounded to 6dp
    val expected = BigDecimal(math.log(3.0) -
      BigDecimal(2 * math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) == expected)
  }

  test("bigram xent matches hand-computed add-one smoothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bgx").toString
    // train (even id): "a b a b a" -> C(a,b)=2, C(b,a)=2, C(a.)=2, V=2
    // test  (odd id):  "a b" -> P(b|a) = (2+1)/(2+2) = 0.75
    Seq(
      (0L, "a b a b a", "s"),
      (1L, "a b", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.qBigramXent(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "s" && row.getLong(1) == 1L)
    val expected = BigDecimal(-math.log(0.75))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(2) == math.rint(expected * 100) / 100,
      s"xent ${row.getDouble(2)}")
    assert(row.getDouble(2) == 0.29)
  }

  test("unseen context falls back to uniform 1/(0+V)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bgx2").toString
    // train vocab {a, b}; test bigram (z, z): P = (0+1)/(0+2) = 0.5
    Seq(
      (0L, "a b", "s"),
      (1L, "z z", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val row = TextOps.qBigramXent(spark, dir).collect().head
    // -ln(0.5) = 0.693... -> 0.69
    assert(row.getLong(1) == 1L && row.getDouble(2) == 0.69)
  }

  test("q152 weighted median length: median token, not median document") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wmed").toString
    // s1: lengths 1,1,8 -> total 10, cumsums 1,2,10: first 2*cum>=10 is
    // the 8-token doc (the DOCUMENT median is 1). s2: 2,2 -> wmedian 2.
    Seq(
      (1L, "a", "s1"), (2L, "b", "s1"), (3L, "c c c c c c c c", "s1"),
      (4L, "d d", "s2"), (5L, "e e", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qWeightedMedianLen(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("s1") == ((10L, 8L)))
    assert(got("s2") == ((4L, 2L)))
  }

  test("q154 source overlap: shared shingle counted once, directed containments") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_overlap").toString
    // s1 {abc, bcd} (doc 2 repeats abc — distinct per source), s2 {bcd, cde}
    Seq((1L, "a b c d", "s1"), (2L, "a b c", "s1"), (3L, "b c d e", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.qSourceOverlap(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getString(0), row.getString(1)) == (("s1", "s2")))
    assert((row.getLong(2), row.getLong(3), row.getLong(4)) == ((2L, 2L, 1L)))
    assert((row.getDouble(5), row.getDouble(6)) == ((0.5, 0.5)))
  }

  test("q154 parity: bitmask spelling == set spelling (incl. null source)") {
    import spark.implicits._
    // The shipped bitmask spelling and the >64-source set-spelling
    // fallback must stay row-identical. Corpus
    // plants: a 3-source-shared shingle (pair expansion from one mask), a
    // 2-source shingle, single-source shingles (sizes only), and a
    // null-source doc (dropped from sets by collect_set's null skip, from
    // masks by bit_or's — the parity of the two null paths).
    val df = Seq(
      (1L, "a b c d", Option("s1")), (2L, "a b c", Option("s2")),
      (3L, "a b c x y z", Option("s3")), (4L, "b c d e", Option("s2")),
      (5L, "q r s t", Option("s1")), (6L, "a b c", Option.empty[String]))
      .toDF("doc_id", "text", "source")
    val bitm = TextOps.sourceOverlap(df)
    val sets = TextOps.sourceOverlapSets(df)
    assert(bitm.exceptAll(sets).count() == 0 && sets.exceptAll(bitm).count() == 0,
      "bitmask vs set spelling diverge")
    assert(bitm.count() == 3) // (s1,s2), (s1,s3), (s2,s3) via "a b c"/"b c d"
  }

  test("q157 JSD: decomposed form matches the definitional formula; disjoint = ln 2") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_jsd").toString
    // s1: p(a)=2/3, p(b)=1/3; s2: p(a)=1/4, p(b)=3/4; s3 disjoint {z}
    Seq((1L, "a a b", "s1"), (2L, "a b b b", "s2"), (3L, "z", "s3"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qSourceJsd(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // definitional: 0.5*KL(P||M) + 0.5*KL(Q||M), M = (P+Q)/2
    def kl(p: Map[String, Double], m: Map[String, Double]) =
      p.map { case (t, pv) => pv * math.log(pv / m(t)) }.sum
    val p1 = Map("a" -> 2.0 / 3, "b" -> 1.0 / 3)
    val p2 = Map("a" -> 0.25, "b" -> 0.75)
    val m12 = Map("a" -> (p1("a") + p2("a")) / 2, "b" -> (p1("b") + p2("b")) / 2)
    val expected = 0.5 * kl(p1, m12) + 0.5 * kl(p2, m12)
    assert(math.abs(got(("s1", "s2")) - expected) < 1e-6)
    // disjoint vocabularies: maximal divergence ln 2, via the left-join path
    assert(got(("s1", "s3")) == BigDecimal(math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.size == 3)
  }

  test("q158 Gini: uniform counts give 0; hand-computed skew") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gini").toString
    // s1: a,b,c once each -> G=0; s2: a x3, b x1 -> sorted (b=1, a=3),
    // S1 = 1*1 + 2*3 = 7, G = (2*7 - 3*4) / (2*4) = 0.25
    Seq((1L, "a b c", "s1"), (2L, "a a a b", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qTokenGini(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got("s1") == ((3L, 3L, 0.0)))
    assert(got("s2") == ((2L, 4L, 0.25)))
  }

  test("q166 sorted neighborhood: adjacent-in-sort pairs inside blocks only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snm").toString
    // block 'aa' sorts 1,2,3 by prefix: pairs (1,2) dist 1, (2,3) dist 4;
    // block 'qq' is a singleton and contributes no pair
    Seq((1L, "aa bbbb", "s"), (2L, "aa bbbc", "s"), (3L, "aa zzzz", "s"),
      (4L, "qq x", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qSortedNeighbors(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toList
    assert(got == List(("aa", 1L, 2L, 1), ("aa", 2L, 3L, 4)))
  }

  test("q167 Burrows Delta: hand-computed two-source z-score distance") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_burrows").toString
    // s1 "a b": f_a = f_b = 500000/M; s2 "a a a b": f_a = 750000, f_b = 250000
    // token a: mu 625k, sigma 125k -> z = (-1, +1); token b: z = (+1, -1)
    // Delta = mean(|z1-z2|) = mean(2, 2) = 2
    Seq((1L, "a b", "s1"), (2L, "a a a b", "s2"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val r = TextOps.qBurrowsDelta(spark, dir).collect()
    assert(r.length == 1)
    assert((r.head.getString(0), r.head.getString(1), r.head.getLong(2),
      r.head.getDouble(3)) == (("s1", "s2", 2L, 2.0)))
  }

  test("q155 positional template: modal token per position, lexicographic tie") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_postmpl").toString
    Seq((1L, "x y", "s"), (2L, "x z", "s"), (3L, "w", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.qPositionalTemplate(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))).toMap
    // pos 1: {x,x,w}: top x 2/3; pos 2: {y,z} tie -> lexicographic y, 1/2
    assert(got(1) == ((3L, 2L, "x",
      BigDecimal(2.0 / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(2) == ((2L, 2L, "y", 0.5)))
  }

  test("neBigrams collapsed-text identity: pairs of consecutive non-empty tokens") {
    // The q119/q139 bigram spelling rests on this identity: word 2-shingles
    // of the space-run-collapsed trimmed text, split back on the single
    // interior space, equal the consecutive pairs of NON-EMPTY tokens of
    // the raw split. Pinned as a property over adversarial spacing.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val piece = Gen.frequency(
      (5, Gen.oneOf("a", "bb", "ccc", "é", "日本", "x")), (3, Gen.const("")))
    val gen = for {
      toks <- Gen.listOfN(10, piece)
      pad <- Gen.oneOf("", " ", "   ")
    } yield pad + toks.mkString(" ") + pad
    val texts = (1 to 200).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))) :+
      "" :+ " " :+ "a" :+ "  a  " :+ "a b"
    val got = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "text")
      .select(col("id"), TextOps.neBigrams.as("bgs"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[String](1).map(bg => bg.split(" ", -1) match {
          case Array(a, b) => (a, b)
          case other => fail(s"bigram '$bg' split into ${other.length} parts")
        })).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val ne = t.split(" ", -1).filter(_.nonEmpty)
      val want = if (ne.length < 2) Seq.empty else ne.toSeq.sliding(2).map {
        case Seq(a, b) => (a, b) }.toSeq
      assert(got(i) == want, s"text='$t'")
    }
  }
}
