package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Cross-corpus dedup contract: the bloom stage is a pure cost lever —
  * results must equal the exact anti-join REGARDLESS of bloom sizing
  * (false positives are rescued by the confirm join; bloom filters have
  * no false negatives to rescue).
  */
class CrossCorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frames() = {
    import spark.implicits._
    // seen: evens 0..998; new batch: 300..699 (overlap = evens 300..698)
    val seen = (0 until 1000 by 2).map(_.toLong).toDF("k")
    val fresh = (300 until 700).map(_.toLong).toDF("k")
    (seen, fresh)
  }

  test("novelRows equals the exact anti-join under a well-sized bloom") {
    val (seen, fresh) = frames()
    val got = CrossCorpus.novelRows(fresh, seen, "k")
      .collect().map(_.getLong(0)).toSet
    val want = fresh.join(seen, Seq("k"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(want.size == 200) // odds 301..699
  }

  test("exactness survives a deliberately terrible bloom (fp-saturated)") {
    val (seen, fresh) = frames()
    // 64 bits for 500 items: the filter saturates and claims nearly
    // everything "maybe seen" — the confirm join must rescue every one
    val got = CrossCorpus.novelRows(fresh, seen, "k",
      expectedItems = 500L, numBits = 64L)
      .collect().map(_.getLong(0)).toSet
    val want = fresh.join(seen, Seq("k"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("empty seen corpus: the whole batch is novel") {
    import spark.implicits._
    val fresh = (1L to 10L).toDF("k")
    val empty = Seq.empty[Long].toDF("k")
    assert(CrossCorpus.novelRows(fresh, empty, "k").count() == 10)
  }

  test("bloom round trip: members always hit, an absent key misses") {
    import spark.implicits._
    val bloom = (1L to 100L).toDF("k")
      .agg(CrossCorpus.bloomAgg(col("k"), 1000L, 65536L).as("b"))
      .head().getAs[Array[Byte]]("b")
    val hits = (Seq(500L) ++ (1L to 100L)).toDF("k")
      .withColumn("hit", CrossCorpus.bloomMightContain(bloom, col("k")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((1L to 100L).forall(hits), "every member must hit (no false negatives)")
    // 500 is absent; with 64 KiB for 100 items a false positive is ~impossible
    assert(!hits(500L))
  }
}
