package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The distributed value-count exact quantile must reproduce Spark's
  * built-in `percentile` BIT-FOR-BIT (same interpolation arithmetic) — it
  * is what keeps the q18 oracle gate green while removing the built-in's
  * every-row-per-partition aggregation buffer.
  */
class QuantileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("exactQuantiles bit-matches builtin percentile on lineitem") {
    val l = Tables.load(spark, dir, "lineitem")
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    val got = Analytics.exactQuantiles(l, "l_extendedprice", probs)
      .collect().head.toSeq.map(_.asInstanceOf[Double])
    val want = l.agg(expr(
      s"percentile(l_extendedprice, array(${probs.mkString(", ")}))").as("qs"))
      .select(expr("qs")).collect().head.getSeq[Double](0)
    probs.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(got(i)) ==
        java.lang.Double.doubleToLongBits(want(i)),
        s"p=${probs(i)}: got ${got(i)}, want ${want(i)}")
    }
  }

  test("exactQuantiles handles duplicates, nulls, and exact-rank positions") {
    import spark.implicits._
    // 5 non-null values: p=0.5 lands exactly on a rank (no interpolation);
    // p=0.25 interpolates between duplicates (1.0, 1.0) → 1.0
    val df = Seq(Some(1.0), Some(1.0), Some(2.0), None, Some(10.0), Some(100.0))
      .toDF("x")
    val q = Analytics.exactQuantiles(df, "x", Seq(0.25, 0.5, 1.0))
      .collect().head
    assert(q.getDouble(0) == 1.0)
    assert(q.getDouble(1) == 2.0)
    assert(q.getDouble(2) == 100.0)
  }

  test("exactQuantilesByHistogram bit-matches builtin percentile, forced refinement") {
    val l = Tables.load(spark, dir, "lineitem")
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    // collectBudget 64 << 6k rows forces at least one histogram recursion
    // with a tiny bin count, exercising the refinement path sf0.001 would
    // otherwise skip (top-level region fits the default budget).
    val got = Analytics.exactQuantilesByHistogram(l, "l_extendedprice", probs,
        bins = 16, collectBudget = 64)
      .collect().head.toSeq.map(_.asInstanceOf[Double])
    val want = l.agg(expr(
      s"percentile(l_extendedprice, array(${probs.mkString(", ")}))").as("qs"))
      .select(expr("qs")).collect().head.getSeq[Double](0)
    probs.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(got(i)) ==
        java.lang.Double.doubleToLongBits(want(i)),
        s"p=${probs(i)}: got ${got(i)}, want ${want(i)}")
    }
  }

  test("exactQuantilesByHistogram: duplicates, nulls, empty, constant bins") {
    import spark.implicits._
    val df = Seq(Some(1.0), Some(1.0), Some(2.0), None, Some(10.0), Some(100.0))
      .toDF("x")
    val q = Analytics.exactQuantilesByHistogram(df, "x", Seq(0.25, 0.5, 1.0),
        bins = 4, collectBudget = 1)
      .collect().head
    assert(q.getDouble(0) == 1.0)
    assert(q.getDouble(1) == 2.0)
    assert(q.getDouble(2) == 100.0)
    val empty = Analytics.exactQuantilesByHistogram(
      df.where(col("x") > 1000), "x", Seq(0.5)).collect().head
    assert(empty.isNullAt(0))
    // heavy duplicates: a bin that can never split (min == max) must
    // resolve as a constant instead of recursing forever
    val dup = (1 to 500).map(_ => 7.0) ++ Seq(1.0, 9.0)
    val qd = Analytics.exactQuantilesByHistogram(dup.toDF("x"), "x",
        Seq(0.5), bins = 4, collectBudget = 8)
      .collect().head
    assert(qd.getDouble(0) == 7.0)
  }

  test("approxQuantiles matches exact on low-cardinality data") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 10).toDouble).toDF("x")
    val ap = Analytics.approxQuantiles(df, "x", Seq(0.5)).collect().head.getDouble(0)
    assert(ap >= 4.0 && ap <= 5.0, s"median of 0..9 uniform was $ap")
  }
}
