package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Implementation-vs-implementation equivalence for the r19 content-layer
  * adoptions (q49/q55/q85/q105): the DuckDB gate proves each query on the
  * corpora it runs on; these specs pin the per-doc ↔ content-layer
  * equivalence on a corpus CRAFTED for the edge cases the rewrites must
  * preserve —
  *  - multi-copy contents (6× and 10×) whose same-content C(n,2)
  *    expansions straddle the q49 top-20 boundary INSIDE a jaccard=1.0
  *    tie group (the threshold-collect path's hard case);
  *  - copies spread across sources (q105's weighted accounting must
  *    reproduce per-doc source-pair counts exactly);
  *  - a no-signature multi-copy content (empty text) that must NOT
  *    collapse into one cluster (its docs were never banding candidates
  *    per-doc, so q85 must leave them singletons);
  *  - planted near-dups so the cross-content branches are non-trivial.
  */
class ContentLayerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val vocab = Array("spark", "data", "join", "merge", "sort", "hash",
    "table", "scan", "row", "column", "batch", "stream", "query", "filter",
    "group", "agg", "window", "key", "value", "part", "order", "line",
    "fast", "slow", "big", "small", "the", "a")

  private lazy val dir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def mk(n: Int) = (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, mk(60)))
    val nearDups = (0 until 8).map { i =>
      val toks = base(i)._2.split(" "); toks(30) = "MUTATED"
      (100L + i, toks.mkString(" "))
    }
    val textA = mk(60)
    val textB = mk(60)
    val copiesA = (0 until 6).map(i => (300L + i, textA))
    val copiesB = (0 until 10).map(i => (400L + i, textB))
    val empties = (0 until 3).map(i => (500L + i, "")) // no tokens → no signature
    val rows = (base ++ nearDups ++ copiesA ++ copiesB ++ empties).map {
      case (id, text) =>
        (id, text, "xx", s"s${id % 3}", text.length.toLong)
    }
    val d = java.nio.file.Files.createTempDirectory("graft_contentlayer").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  test("q49 content-layer top-20 equals the per-doc posting top-20 across a tie boundary") {
    // 15 + 45 same-content pairs tie at jaccard 1.0, so the threshold
    // lands INSIDE the tie group and the superset filter + deterministic
    // final sort must reproduce the per-doc selection row-for-row.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "common", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (-t._4, t._1, t._2)).toSeq
    val got = rows(graft.SparkEntry.queries("q49_jaccard_top_pairs")(spark, dir))
    val exp = rows(PerDocSpellings.filteredJaccard(docs)
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc).limit(20))
    spark.catalog.clearCache()
    assert(got.size == 20 && exp.size == 20)
    assert(got == exp)
    // the boundary really is inside the tie group: every selected pair is
    // an exact-dup pair, and more tied pairs exist than were selected
    assert(got.forall(_._4 == 1.0))
  }

  test("q55 content-layer pairs equal the brute-force per-doc hamming verification") {
    val b = TextOps.qSimhashBands(spark, dir)
    val ham = (0 until 4)
      .map(i => expr(s"bit_count(xa[$i] ^ xb[$i])")).reduce(_ + _).cast("int")
    val exp = b.select(col("doc_id").as("da"),
        array((0 until 4).map(i => col(s"band$i")): _*).as("xa"))
      .crossJoin(b.select(col("doc_id").as("db"),
        array((0 until 4).map(i => col(s"band$i")): _*).as("xb")))
      .where(col("da") < col("db"))
      .select(col("da"), col("db"), ham.as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = graft.SparkEntry.queries("q55_simhash_near_dups")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    spark.catalog.clearCache()
    // banding is pigeonhole-complete for hamming ≤ 3, so the banded
    // content-layer output must equal the all-pairs verification exactly
    assert(got == exp)
    // the same-content cliques are present: C(6,2) + C(10,2) hamming-0 pairs
    assert(got.count(p => p._1 >= 300 && p._2 <= 305) == 15)
    assert(got.count(p => p._1 >= 400 && p._2 <= 409) == 45)
    // the no-signature copies never pair
    assert(!got.exists(p => p._1 >= 500 || p._2 >= 500))
  }

  test("q105 weighted accounting equals per-doc source-pair counting over the q55 pairs") {
    val pairs = graft.SparkEntry.queries("q55_simhash_near_dups")(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val exp = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val got = graft.SparkEntry.queries("q105_dup_source_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    assert(got == exp)
  }

  test("q85 content-graph labels equal per-doc connected components; no-sig copies stay singletons") {
    val edges = graft.SparkEntry.queries("q55_simhash_near_dups")(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val exp = TextOps.connectedComponents(
        docs.select(col("doc_id").as("node")), edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = graft.SparkEntry.queries("q85_dup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    spark.catalog.clearCache()
    assert(got.map(t => t._1 -> t._2).toMap == exp)
    got.foreach { case (id, label, canon) => assert(canon == (id == label)) }
    // the 6-copy and 10-copy contents are single clusters labeled by min id
    assert(got.filter(t => t._1 >= 300 && t._1 <= 305).forall(_._2 == 300L))
    assert(got.filter(t => t._1 >= 400 && t._1 <= 409).forall(_._2 == 400L))
    // the empty-text copies were never candidates → each its own cluster
    assert(got.filter(_._1 >= 500L).forall(t => t._2 == t._1))
  }

  test("doc-pair expansions emit exactly the id-list pairs computed in Scala") {
    // Exact row multisets: the cross expansion attaches both id lists and
    // orients each pair with least/greatest; the same-content expansion
    // keeps da < db over one list. Uneven list sizes (100 × 37) so a
    // swapped or truncated explode shows.
    import spark.implicits._
    val idsA = (0L until 100L).toArray
    val idsB = (200L until 237L).toArray
    val ids = Seq((0L, idsA), (200L, idsB)).toDF("rep", "ids")
    val pairs = Seq((0L, 200L)).toDF("ra", "rb").withColumn("x", lit(7))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    val cross = key(TextOps.expandRepPairs(pairs, ids, Seq("x")))
    val crossWant = (for (a <- idsA; b <- idsB) yield (a min b, a max b, 7)).toSeq.sorted
    assert(cross.size == 100 * 37)
    assert(cross == crossWant)

    val rows = Seq(Tuple1(idsA)).toDF("ids").withColumn("y", lit(3))
    val same = key(TextOps.sameIdPairs(rows, Seq("y")))
    val sameWant = idsA.toSeq.combinations(2).map(c => (c(0), c(1), 3)).toSeq.sorted
    assert(same.size == 100 * 99 / 2)
    assert(same == sameWant)
  }

  test("the doc-pair expansions submit no Spark job while they build") {
    // Building the expansion plans must stay lazy: no probe action on the
    // driver. Jobs are counted per job group through the status tracker;
    // a fence job in a second group, once visible, proves every earlier
    // job event has been processed.
    import spark.implicits._
    val ids = Seq((0L, Array(0L, 1L, 2L)), (10L, Array(10L, 11L))).toDF("rep", "ids")
    val pairs = Seq((0L, 10L)).toDF("ra", "rb").withColumn("x", lit(7))
    val rows = ids.select(col("ids")).withColumn("y", lit(3))
    val sc = spark.sparkContext
    val build = s"expand-build-${java.util.UUID.randomUUID}"
    val fence = s"expand-fence-${java.util.UUID.randomUUID}"
    sc.setJobGroup(build, "doc-pair expansion build")
    val (cross, same) =
      try (TextOps.expandRepPairs(pairs, ids, Seq("x")), TextOps.sameIdPairs(rows, Seq("y")))
      finally sc.clearJobGroup()
    sc.setJobGroup(fence, "status-tracker fence")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(fence).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(fence).nonEmpty, "fence job never recorded")
    val built = sc.statusTracker.getJobIdsForGroup(build)
    assert(built.isEmpty, s"building the expansions ran ${built.length} Spark job(s)")
    // the built plans still hold the pairs
    assert(cross.count() == 6)
    assert(same.count() == 4)
  }

  test("a 4201-copy content expands through q55 to every same-content pair once") {
    // End-to-end through q55 on a corpus where one content is duplicated
    // 4201× (past the 100 copies per content of the audited duplication
    // corpora): it must emit exactly C(4201,2) hamming-0 pairs,
    // duplicate-free.
    import spark.implicits._
    val text = (0 until 40).map(i => vocab(i % vocab.length)).mkString(" ")
    val rnd = new scala.util.Random(11)
    val others = (10000L until 10050L).map(i =>
      (i, (0 until 40).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val corpus = ((0L until 4201L).map(i => (i, text)) ++ others)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("xx")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val d = java.nio.file.Files.createTempDirectory("graft_degenerate").toString
    corpus.write.parquet(s"$d/documents.parquet")
    try {
      val pairs = graft.SparkEntry.queries("q55_simhash_near_dups")(spark, d)
        .where(col("doc_a") < 4201L && col("doc_b") < 4201L).persist()
      val n = pairs.count()
      assert(n == 4201L * 4200L / 2,
        s"expected C(4201,2)=${4201L * 4200L / 2} same-content pairs, got $n")
      assert(pairs.distinct().count() == n, "duplicate pair rows")
      assert(pairs.where(col("hamming") =!= 0).count() == 0)
    } finally spark.catalog.clearCache()
  }
}
