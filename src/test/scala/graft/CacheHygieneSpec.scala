package graft

import org.scalatest.funsuite.AnyFunSuite

/** Builders persist multi-consumer intermediates and the session owner is
  * the only release point (the mains' clearCache convention). This pins
  * that convention on the content-dedup layer (q55): its persisted frames
  * stay cached after the query returns, and clearCache releases them.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("outside a scope the session-owner convention is unchanged") {
    spark.catalog.clearCache()
    SparkEntry.queries("q55_simhash_near_dups")(spark, dir).count()
    assert(!cacheEmpty,
      "builders must keep their persisted frames alive (the returned plan " +
        "references them; Bench/Verify clearCache between queries)")
    spark.catalog.clearCache()
    assert(cacheEmpty)
  }
}
