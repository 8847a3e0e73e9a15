package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Guards the r9→r10 cache-hygiene contract: query builders persist
  * query-local frames that the returned lazy plan references more than
  * once, and the SESSION OWNER (Bench/Verify) releases them with
  * `spark.catalog.clearCache()` after each query. This spec proves the
  * contract leaves nothing behind — repeated invocation of the heaviest
  * persist-using queries in one session is storage-flat, so a 177-query
  * sweep (or a resident service re-running operators) cannot accumulate
  * storage memory across invocations.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def cachedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("repeated heavy-query invocation with per-query clearCache is storage-flat") {
    spark.catalog.clearCache()
    // Identity-based, not count-based (ADVICE r11): a leak can't hide
    // behind an unrelated baseline entry that happened to be dropped —
    // no NEW RDD id may survive clearCache, whatever the count does.
    val base = cachedRddIds
    // q180 (join-free since r17 — kept as a no-cache control),
    // q105 (rides the persisted simhash band table), q147 (persisted
    // edge/node frames feeding the lazy iteration chain), q55 (the
    // persisted content-dedup layer and band table). The persisting
    // builders must still hold their frames when the query returns: the
    // returned plan reads them, and only the session owner releases them.
    val heavy = Seq(
      ("q180", false, (d: String) => Curation.qSubstringDedup(spark, d)),
      ("q105", true, (d: String) => TextOps.qDupSourceMatrix(spark, d)),
      ("q147", true, (d: String) => Retrieval.qTokenPagerank(spark, d)),
      ("q55", true, (d: String) => TextOps.qSimhashNearDupPairs(spark, d)))
    for (_ <- 1 to 3; (name, persists, fn) <- heavy) {
      assert(fn(dir).count() > 0, s"$name returned no rows")
      if (persists) assert((cachedRddIds -- base).nonEmpty,
        s"$name returned without its persisted frames cached")
      spark.catalog.clearCache()
      val leaked = cachedRddIds -- base
      assert(leaked.isEmpty,
        s"$name leaked cached RDD ids $leaked past clearCache")
    }
  }

  test("q147 per-iteration rank frames do not outlive the query") {
    spark.catalog.clearCache()
    // Relative to a post-clearCache baseline, not absolute zero: the
    // session is shared across suites, so an absolute assertion would
    // turn flaky if suite-level parallelism were ever enabled (ADVICE
    // r10) — and a concurrent suite's persists are not q147's leak.
    val base = cachedRddIds
    Retrieval.qTokenPagerank(spark, dir).count()
    // Only the builder-persisted edge/node frames may remain after the
    // run (the rank chain itself is lazy, never cached), and clearCache
    // must drop those too.
    spark.catalog.clearCache()
    val leaked = cachedRddIds -- base
    assert(leaked.isEmpty, s"cached RDD ids $leaked survived clearCache")
  }
}
