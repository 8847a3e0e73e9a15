package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The Misra-Gries aggregate's contract (`MgFreqText`, fed one
  * space-free token per row where a case needs a plain item stream): the
  * n/(k+1) survival guarantee holds under eviction pressure (vocab ≫ k)
  * at any partitioning, state round-trips through serde, and the
  * sketch-then-recount heavy hitters are EXACT despite the approximate
  * intermediate. Exact counter values are intentionally not pinned — they
  * vary with merge order inside the guarantee; the guarantee is the spec.
  */
class FrequentItemsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Zipf-ish skew over a 10k-item domain with k=32 — far past eviction:
    * item i (1-based) appears ~N/i times for the head, tail items once.
    */
  private def skewed(parts: Int) = {
    import spark.implicits._
    // head: item h repeated (1000 / h) times, h in 1..50; tail: 10k singletons
    val head = (1 to 50).flatMap(h => Seq.fill(1000 / h)(s"head_$h"))
    val tail = (1 to 10000).map(i => f"tail_$i%05d")
    (head ++ tail).toDF("item").repartition(parts)
  }

  test("every item above n/(k+1) survives, at several partitionings") {
    val truth = skewed(4).groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val k = 32
    Seq(1, 8, 37).foreach { parts =>
      val sk = skewed(parts).agg(MgFreqText.column(col("item"), k, k)("items").as("sk"))
        .select(expr("transform(sk, x -> x.item)").as("items"))
        .head().getSeq[String](0).toSet
      assert(sk.size <= k, s"sketch holds ${sk.size} > k=$k at parts=$parts")
      val mustSurvive = truth.filter { case (_, c) => c > n / (k + 1) }.keySet
      val lost = mustSurvive -- sk
      assert(lost.isEmpty,
        s"guarantee violated at parts=$parts: lost $lost (floor ${n / (k + 1)})")
    }
  }

  test("estimates undercount by at most n/(k+1)") {
    val truth = skewed(4).groupBy("item").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    val k = 32
    val ests = skewed(8).agg(MgFreqText.column(col("item"), k, k)("items").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    ests.foreach { case (item, est) =>
      val c = truth(item)
      assert(est <= c, s"$item overcounts: est=$est > true=$c")
      assert(c - est <= n / (k + 1),
        s"$item undercounts past the bound: est=$est true=$c floor=${n / (k + 1)}")
    }
  }

  test("sketch serde round-trips") {
    val s = new MgSketch(4)
    Seq("a", "a", "b", "c", "d", "e", "a").foreach(s.update)
    val back = MgSketch.deserialize(s.serialize())
    assert(back.k === s.k)
    assert(back.count === s.count)
    assert(back.topItems.toSeq === s.topItems.toSeq)
  }

  test("sketch serde survives a >64KB item (writeUTF would throw)") {
    val s = new MgSketch(4)
    val huge = "x" * 100000 + "é" // non-ASCII tail: length != byte length
    Seq(huge, huge, "b").foreach(s.update)
    val back = MgSketch.deserialize(s.serialize())
    assert(back.topItems.toSeq === s.topItems.toSeq)
  }

  test("merge preserves the guarantee across disjoint halves") {
    val k = 4
    val left = new MgSketch(k)
    val right = new MgSketch(k)
    // 'x' dominates both halves; fillers force evictions
    (1 to 100).foreach(_ => left.update("x"))
    (1 to 30).foreach(i => left.update(s"l$i"))
    (1 to 100).foreach(_ => right.update("x"))
    (1 to 30).foreach(i => right.update(s"r$i"))
    left.merge(right)
    val items = left.topItems.map(_._1).toSet
    assert(left.topItems.length <= k)
    assert(items.contains("x"), "dominant item evicted by merge")
    val estX = left.topItems.find(_._1 == "x").get._2
    assert(estX <= 200 && 200 - estX <= left.count / (k + 1))
  }

  test("property: guarantee holds for random streams and random split points") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      k <- Gen.choose(2, 8)
      items <- Gen.listOfN(400, Gen.frequency(
        (5, Gen.const("hot")),
        (2, Gen.oneOf("w1", "w2", "w3")),
        (3, Gen.choose(0, 200).map(i => s"cold_$i"))))
      cut <- Gen.choose(0, items.length)
    } yield (k, items, cut)
    (1 to 200).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { case (k, items, cut) =>
        val (l, r) = items.splitAt(cut)
        val left = new MgSketch(k)
        val right = new MgSketch(k)
        l.foreach(left.update)
        r.foreach(right.update)
        left.merge(right)
        val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val n = items.length.toLong
        val floor = n / (k + 1)
        val ests = left.topItems.toMap
        assert(left.topItems.length <= k)
        truth.foreach { case (it, c) =>
          if (c > floor) assert(ests.contains(it), s"seed=$i k=$k lost $it (c=$c floor=$floor)")
        }
        ests.foreach { case (it, est) =>
          val c = truth(it)
          assert(est <= c && c - est <= floor, s"seed=$i k=$k $it est=$est true=$c")
        }
      }
    }
  }

  test("mg_freq aggregates under Structured Streaming, exact when vocab <= k") {
    val dir = "/root/testdata/sf0.001"
    val batchDf = spark.read.parquet(s"$dir/documents.parquet")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_mg_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      java.nio.file.Paths.get(s"$streamDir/documents.parquet"))
    val stream = spark.readStream.schema(batchDf.schema).parquet(streamDir)
    def toksOf(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), " ")).as("token")).where(col("token") =!= "")
    val q = toksOf(stream).agg(MgFreqText.column(col("token"), 64, 64)("items").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("mg_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // 31-token vocab <= k=64: no eviction ever fires, so the sketch holds
    // the EXACT count of every token — streaming must equal batch truth
    val truth = toksOf(batchDf).groupBy("token").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == truth)
  }

  test("invalid k or cap is rejected when the sketch column is built") {
    val zeroK = intercept[IllegalArgumentException](MgFreqText.column(col("item"), 0, 0))
    assert(zeroK.getMessage.contains(">= 1"), zeroK.getMessage)
    val smallCap = intercept[IllegalArgumentException](MgFreqText.column(col("item"), 8, 4))
    assert(smallCap.getMessage.contains("cap >= k"), smallCap.getMessage)
  }

  test("q103 certifies a near-uniform corpus exactly when its vocab fits the capacity") {
    import spark.implicits._
    // near-uniform corpus: 5000 distinct tokens, each twice. Under the
    // r13 k=64 sketch the n/(k+1) floor broke and the plan had to
    // refuse; with the r14 capacity (1<<16) no eviction ever fires, so
    // err == 0 certifies every count exact and the query returns the
    // true top-20 (all cnt 2, ties by token ASC) from a SINGLE
    // certified sketch pass — one scan, no recount, no explode of the
    // token stream.
    val dir = java.nio.file.Files.createTempDirectory("graft_q103_flat").toString
    (1 to 5000).map(i => (i.toLong, s"tok_$i tok_$i"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.qHeavyHitters(spark, dir)
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1)))
    val want = (1 to 5000).map(i => s"tok_$i").sorted.take(20).map((_, 2L))
    assert(rows.toSeq === want)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("token_term_counts"),
      "certified path must not carry the recount scan")
    assert(plan.contains("mg_freq_text"), "the sketch is the whole plan")
    // AQE prints the initial plan after the final one — count scans in
    // the final (executed) section only
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(finalPlan).size === 1,
      s"certified path must scan the corpus exactly once:\n$finalPlan")
  }

  test("q103's embedded margin check raises when the vocab overflows the capacity") {
    import spark.implicits._
    // 70_000 distinct near-uniform tokens (each once) overflow the 1<<16
    // capacity — err > 0 voids the certificate — plus one common token
    // so the compacted sketch keeps non-empty candidates: the guard must
    // fire on the array, not vanish into an empty explode, and the
    // refusal names the fallback a caller can run
    val dir = java.nio.file.Files.createTempDirectory("graft_q103_huge").toString
    (1 to 70).map { d =>
      val t0 = (d - 1) * 1000
      (d.toLong,
        (Seq.fill(30)("common_tok") ++ (1 to 1000).map(i => s"tok_${t0 + i}"))
          .mkString(" "))
    }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.operators.TextOps.qHeavyHitters(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("q103 MG safety margin violated") &&
      m.contains("qHeavyHittersRecount")), s"wrong failure: $e")
  }

  test("qHeavyHittersRecount stays exact where the single-pass certificate overflows") {
    import spark.implicits._
    // 70_000 distinct singletons overflow the 1<<16 capacity (so the
    // certified single pass refuses), but 25 genuinely common tokens
    // occur 2100 times each, far above the sketch's non-candidate bound
    // (its error plus its 65th estimate, a few counts here), so the
    // sketch-then-recount fallback must return their exact top-20 where
    // qHeavyHitters raises. This is the huge-key-domain shape.
    val dir = java.nio.file.Files.createTempDirectory("graft_q103_2p").toString
    val commons = (0 until 25).map(i => f"common_$i%02d")
    (1 to 70).map { d =>
      val t0 = (d - 1) * 1000
      (d.toLong,
        (commons.flatMap(Seq.fill(30)(_)) ++ (1 to 1000).map(i => s"tok_${t0 + i}"))
          .mkString(" "))
    }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.operators.TextOps.qHeavyHitters(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("q103 MG safety margin violated")),
      s"wrong failure: $e")
    val got = graft.operators.TextOps.qHeavyHittersRecount(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === commons.sorted.take(20).map((_, 70L * 30)))
  }

  test("qHeavyHittersRecount certifies a Zipf-shaped top-20 past the capacity") {
    import spark.implicits._
    // Zipf-like head: z_i occurs 100 * (200 / i) times (i = 1..200), so
    // the 20th count is 1000 and the 65th is 300; 70_000 singletons
    // overflow the 1<<16 capacity. n ≈ 188k puts n/65 near 2900, far above
    // the 20th count, but the sketch's own bound (error ≤ n/65537 plus
    // the 65th estimate) sits near 300, so the fallback certifies the
    // exact top-20 where the single pass refuses
    val dir = java.nio.file.Files.createTempDirectory("graft_q103_zipf").toString
    val head = (1 to 200).flatMap(i => Seq.fill(200 / i)(f"z_$i%03d"))
    (1 to 100).map { d =>
      val t0 = (d - 1) * 700
      (d.toLong, (head ++ (1 to 700).map(j => s"s_${t0 + j}")).mkString(" "))
    }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.operators.TextOps.qHeavyHitters(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("q103 MG safety margin violated")),
      s"wrong failure: $e")
    val want = (1 to 200).map(i => (f"z_$i%03d", 100L * (200 / i)))
      .sortBy { case (tok, c) => (-c, tok) }.take(20)
    val got = graft.operators.TextOps.qHeavyHittersRecount(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === want)
  }

  test("mg_freq_text over whole documents matches its one-token-per-row feed") {
    import spark.implicits._
    // single partition so both feeds absorb the identical token stream in
    // the identical order — MG results are then deterministic and must
    // agree exactly (same sketch, different feed path)
    val docs = Seq(
      "the quick brown fox  the lazy dog", // double space → empty token to skip
      " leading and trailing ",
      "", // empty text
      "unicode tokens ünïcødé ünïcødé 日本語",
      (1 to 200).map(i => s"tok_${i % 17}").mkString(" "))
      .toDF("text").coalesce(1)
    def sketch(df: org.apache.spark.sql.DataFrame, c: String) =
      df.agg(MgFreqText.column(col(c), 8, 8).as("r"))
        .select(col("r.n"), expr("transform(r.items, x -> struct(x.item, x.est))"))
        .head()
    val exploded = docs.select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val nTrue = exploded.count()
    val viaText = sketch(docs, "text")
    val viaTokens = sketch(exploded, "token")
    assert(viaText.getLong(0) === nTrue, "n must be the exact non-empty token count")
    assert(viaTokens.getLong(0) === nTrue)
    assert(viaText.getSeq[Any](1) === viaTokens.getSeq[Any](1),
      "items/estimates must match the one-token-per-row feed")
  }

  test("two-pass heavy hitters is exact under eviction pressure") {
    // same shape as q103 over the 10k-item skewed domain. k must honor the
    // guarantee for the whole top-10: the 10th count is 100, so the floor
    // n/(k+1) must sit below it — k=256 gives ~56. (k=32's floor ~439
    // would NOT cover it; exactness is conditional on k, by design.)
    val toksDf = skewed(16).withColumnRenamed("item", "token")
    val cands = toksDf.agg(MgFreqText.column(col("token"), 256, 256)("items").as("sk"))
      .select(explode(expr("transform(sk, x -> x.item)")).as("token"))
    val got = toksDf.join(broadcast(cands), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(10).collect().map(r => (r.getString(0), r.getLong(1)))
    val want = toksDf.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(10).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === want.toSeq)
  }
}
