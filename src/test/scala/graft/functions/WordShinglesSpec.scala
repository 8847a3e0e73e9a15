package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** WordShingles contract: exact equality with the composable
  * `transform(sequence(…), i -> concat_ws(' ', slice(toks, i, n)))` +
  * `array_distinct` spelling (the one every banded-dedup oracle mirrors),
  * including empty tokens from space runs, UTF-8, order, and the
  * fewer-than-n edge. The per-query oracle gate proves end-to-end
  * equality vs DuckDB; this pins the expression itself.
  */
class WordShinglesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fused(text: String, n: Int, dedup: Boolean): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(WordShingles.column(col("t"), n, dedup).as("s"))
      .collect()(0).getSeq[String](0)
  }

  private def reference(text: String, n: Int, dedup: Boolean): Seq[String] = {
    // the composable spelling, computed in plain Scala: split on EVERY
    // space (trailing empties kept), n-token windows joined by ' '
    val toks = text.split(" ", -1).toSeq
    if (toks.length < n) Seq.empty
    else {
      val all = (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
      if (dedup) all.distinct else all
    }
  }

  test("hand cases: order, space runs, boundaries, UTF-8, short docs") {
    assert(fused("a b c d", 3, true) == Seq("a b c", "b c d"))
    // duplicate window kept once, first occurrence order
    assert(fused("x y x y x y", 3, true) == Seq("x y x", "y x y"))
    assert(fused("x y x y x y", 3, false)
      == Seq("x y x", "y x y", "x y x", "y x y"))
    // runs of spaces produce empty tokens INSIDE shingles, exactly like
    // concat_ws over the split-with-empties array
    assert(fused("a  b c", 3, true) == Seq("a  b", " b c"))
    // leading/trailing spaces are empty tokens too
    assert(fused(" a b ", 3, true) == Seq(" a b", "a b "))
    // fewer than n tokens -> empty
    assert(fused("a b", 3, true) == Seq.empty)
    assert(fused("", 3, true) == Seq.empty)
    // multibyte text slices exactly on the space bytes
    assert(fused("héllo wörld 日本 x", 3, true)
      == Seq("héllo wörld 日本", "wörld 日本 x"))
    // n = 2 and n = 1 generalize
    assert(fused("a b c", 2, true) == Seq("a b", "b c"))
    assert(fused("a b a", 1, false) == Seq("a", "b", "a"))
  }

  test("property: fused equals the composable spelling on random texts") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val piece = Gen.frequency(
      (5, Gen.oneOf("a", "bb", "ccc", "é", "日本", "x")),
      (2, Gen.const("")))
    val gen = for {
      toks <- Gen.listOfN(12, piece)
      n <- Gen.choose(1, 4)
      dedup <- Gen.oneOf(true, false)
      pad <- Gen.oneOf("", " ", "  ")
    } yield (pad + toks.mkString(" ") + pad, n, dedup)
    val cases = (1 to 300).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).map { case (t, n, d) => (i, t, n, d) })
    // one batched job for all 300 cases, not 300 single-row collects:
    // (n, dedup) has only 8 combinations, so group cases per combination
    import spark.implicits._
    cases.groupBy { case (_, _, n, d) => (n, d) }.foreach { case ((n, d), cs) =>
      val got = cs.map(c => (c._1, c._2)).toDF("seed", "t")
        .select(col("seed"),
          WordShingles.column(col("t"), n, d).as("s"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      cs.foreach { case (seed, text, _, _) =>
        assert(got(seed) == reference(text, n, d),
          s"seed=$seed n=$n dedup=$d text='$text'")
      }
    }
  }

  test("n < 1 fails at analysis with a named error, not at execution") {
    // a fresh session: the shared one's Observation listener re-analyses
    // every failed query and logs the expected error as a Spark ERROR
    val session = spark.newSession()
    import session.implicits._
    val df = Seq("a b c").toDF("t")
    val zeroN = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(WordShingles.column(col("t"), 0, dedup = true)).queryExecution.analyzed
    }
    assert(zeroN.getMessage.contains("n must be >= 1"), zeroN.getMessage)
  }

  test("null text yields null; interpreted eval agrees with codegen") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, "a b c d"))
      .toDF("id", "t").orderBy("id")
      .select(WordShingles.column(col("t"), 3, dedup = true).as("s"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getSeq[String](0) == Seq("a b c", "b c d"))
    val prevWholeStage = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.collect()
      assert(interp(0).isNullAt(0))
      assert(interp(1).getSeq[String](0) == Seq("a b c", "b c d"))
    } finally {
      prevWholeStage match {
        case Some(v) => spark.conf.set("spark.sql.codegen.wholeStage", v)
        case None => spark.conf.unset("spark.sql.codegen.wholeStage")
      }
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
