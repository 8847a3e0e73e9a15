package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The rank-error bound q81 certifies in-plan: Spark's built-in KLL sketch
  * at k = 256 stays within ε = 0.02 of every probed rank, whatever the
  * partitioning (so whatever the merge tree). The exact values are NOT
  * pinned: compaction is randomized, so they move within the bound from
  * run to run; the bound is the spec.
  */
class QuantileSketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val N = 100000
  private val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
  // q81's eps: KLL with k=256 stays well under 1% normalized rank error
  private val eps = 0.02

  /** values 0..N-1 hashed into a scattered but known distribution: the true
    * quantile of rank r is simply the r-th smallest, recoverable by sort.
    */
  private def df(parts: Int) =
    spark.range(N).repartition(parts)
      .select((xxhash64(col("id")) % 1000000).cast("double").as("x"))

  private def rankError(est: Double, sorted: Array[Double], p: Double): Double = {
    val below = java.util.Arrays.binarySearch(sorted, est) match {
      case i if i >= 0 => i + 1
      case i => -i - 1
    }
    math.abs(below.toDouble / sorted.length - p)
  }

  test("rank error within eps at several partition counts") {
    val sorted = df(8).collect().map(_.getDouble(0)).sorted
    Seq(1, 8, 37).foreach { parts =>
      val ests = df(parts)
        .agg(kll_sketch_get_quantile_double(
          kll_sketch_agg_double(col("x"), 256), lit(probs.toArray)).as("qs"))
        .head().getSeq[Double](0)
      probs.zip(ests).foreach { case (p, est) =>
        val err = rankError(est, sorted, p)
        assert(err <= eps, s"parts=$parts p=$p est=$est rankErr=$err")
      }
    }
  }
}
