package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** TokenTermCounts contract: exact whole-token semantics identical to
  * the exploded `split + filter-empty + count` spelling, byte-level
  * tokenization safe for UTF-8, and codegen/interpreted agreement. The
  * q142 oracle gate proves end-to-end equality vs DuckDB; this pins the
  * expression itself, including edges the sf corpus may not contain.
  */
class TokenTermCountsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def counts(text: String, terms: Seq[String]): Seq[Long] = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(TokenTermCounts.column(col("t"), terms).as("c"))
      .collect()(0).getSeq[Long](0)
  }

  test("hand cases: dl + per-term tf + hit count, duplicates, boundaries, empties") {
    // element 0 = dl, then one count per term in order, then the number
    // of distinct terms with >= 1 occurrence
    assert(counts("join join window", Seq("join", "window", "stream", "dup"))
      == Seq(3L, 2L, 1L, 0L, 0L, 2L))
    // runs of spaces and leading/trailing spaces produce no empty tokens
    assert(counts("  a  b ", Seq("a", "b", "ab")) == Seq(2L, 1L, 1L, 0L, 2L))
    // all-space and empty text have zero tokens
    assert(counts("", Seq("x")) == Seq(0L, 0L, 0L))
    assert(counts("   ", Seq("x")) == Seq(0L, 0L, 0L))
    // substrings of longer tokens must not match (whole-token equality)
    assert(counts("joining join joinjoin", Seq("join")) == Seq(3L, 1L, 1L))
    // adjacent identical terms all count (the overlap case a naive
    // ' term '-in-padded-string scan undercounts)
    assert(counts("dup dup dup", Seq("dup")) == Seq(3L, 3L, 1L))
    // duplicate entries in the term list count independently (and both
    // count toward the hit total)
    assert(counts("a b a", Seq("a", "a")) == Seq(3L, 2L, 2L, 2L))
  }

  test("terms past the dense length-index cap match exactly, never by prefix") {
    // the TermTable dense per-length index caps at 1024 bytes; longer
    // terms share one overflow bucket whose probe re-checks exact length
    val long1 = "x" * 2000
    val long2 = "x" * 2001 // shares the overflow bucket, different length
    val text = s"$long1 short $long1 $long2"
    assert(counts(text, Seq(long1, long2, "short", long1 + "y"))
      == Seq(4L, 2L, 1L, 1L, 0L, 3L))
    // a token that is a strict PREFIX of an overflow term must not match
    assert(counts("x" * 1999, Seq(long1)) == Seq(1L, 0L, 0L))
  }

  test("UTF-8 multibyte tokens compare exactly (0x20 never splits a codepoint)") {
    assert(counts("héllo wörld hé", Seq("hé", "wörld", "h"))
      == Seq(3L, 1L, 1L, 0L, 2L))
    assert(counts("日本 語 日本", Seq("日本", "語")) == Seq(3L, 2L, 1L, 2L))
  }

  test("property: fused counts equal split-based counts on random texts/terms") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = Seq("a", "ab", "the", "join", "dup", "é", "日本", "xy", "x")
    val gen = for {
      toks <- Gen.listOfN(40, Gen.frequency(
        (4, Gen.oneOf(vocab)),
        (1, Gen.const("")))) // empties → runs of spaces once joined
      terms <- Gen.listOfN(3, Gen.oneOf(vocab :+ "zz"))
      pad <- Gen.oneOf("", " ", "   ")
    } yield (pad + toks.mkString(" ") + pad, terms)
    (1 to 300).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach {
        case (text, terms) =>
          val ref = text.split(" ").filter(_.nonEmpty).toSeq
          val expected = (ref.length.toLong +:
            terms.map(t => ref.count(_ == t).toLong)) :+
            terms.count(t => ref.contains(t)).toLong
          val got = TokenTermCounts.count(
            UTF8String.fromString(text),
            new TermTable(terms.map(_.getBytes("UTF-8")).toArray)).toLongArray.toSeq
          assert(got == expected, s"seed=$i text='$text' terms=$terms")
      }
    }
  }

  test("null text yields null, not a crash") {
    import spark.implicits._
    val got = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(TokenTermCounts.column(col("t"), Seq("x")).as("c"))
      .collect()(0)
    assert(got.isNullAt(0))
  }

  test("parity with the exploded split-count spelling on real corpus text") {
    // null text is covered by its own test above; here both legs must see
    // the same rows (a null-text doc has no exploded rows but a null
    // fused result — not comparable cell-wise)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("text").isNotNull)
    val terms = Seq("join", "window", "stream", "dup")
    val fused = docs
      .select(col("doc_id"), TokenTermCounts.column(col("text"), terms).as("c"))
      .select(col("doc_id") +: (0 to terms.length)
        .map(i => col("c")(i).as(s"c$i")): _*)
    val tok = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
    val aggCols = count(lit(1)).as("e0") +: terms.zipWithIndex.map {
      case (q, i) =>
        sum(when(col("token") === q, 1L).otherwise(0L)).as(s"e${i + 1}")
    }
    val exploded = tok.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val joined = fused.join(exploded, Seq("doc_id"), "left")
    val mismatches = joined.where(
      (0 to terms.length).map { i =>
        val e = col(s"e$i")
        // docs with zero tokens have no exploded rows: fused must say 0
        !(coalesce(e, lit(0L)) <=> col(s"c$i"))
      }.reduce(_ || _)).count()
    assert(mismatches == 0)
  }

  test("interpreted eval agrees with codegen") {
    import spark.implicits._
    val df = Seq("join a join", " b  dup", "").toDF("t")
      .select(TokenTermCounts.column(col("t"), Seq("join", "dup")).as("c"))
    val withCodegen = df.collect().map(_.getSeq[Long](0)).toList
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = df.collect().map(_.getSeq[Long](0)).toList
      assert(withCodegen == interpreted)
      assert(withCodegen == List(
        Seq(3L, 2L, 0L, 1L), Seq(2L, 0L, 1L, 1L), Seq(0L, 0L, 0L, 0L)))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
