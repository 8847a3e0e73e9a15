package graft.operators

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Plan-regression guards: the scale properties PLANS.md documents must
  * survive refactors. String-level checks on the executed physical plan —
  * coarse, but they catch the failure modes that matter (a lost broadcast,
  * a lost pushdown, a full sort sneaking in, the custom expression
  * silently replaced).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.count() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q09_topk plans TakeOrderedAndProject, never a global sort") {
    val p = executedPlan("q09_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("GlobalLimit"), p)
  }

  test("q06_geo_winnings broadcasts both dims and pushes the sentinel filter") {
    val p = executedPlan("q06_geo_winnings")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(p.contains("PushedFilters") && p.contains("Not(EqualTo(l_returnflag,N))"), p)
  }

  test("q40_dedup_exact shuffles once, on the content hash only") {
    val p = executedPlan("q40_dedup_exact")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q51_ann_brute_force uses the codegen cosine expression and group-limit pushdown") {
    val p = executedPlan("q51_ann_brute_force")
    assert(p.contains("cosine_similarity"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q02_draw_summary aggregates below the join: one fact shuffle, dim broadcast") {
    val p = executedPlan("q02_draw_summary")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q92 grouping sets: partial-reuse plan — no Expand, marginals ride ReusedExchange") {
    // r20 adoption pin (VERDICT r19 #1): the three grains derive from ONE
    // finest-grain aggregate — the fact is scanned and shuffled once (the
    // union's marginal branches reuse the canonical partial-agg exchange)
    // and Spark's 3× Expand never appears.
    // force the DataFrame itself: exchange reuse only materializes in the
    // FINAL adaptive plan (executedPlan's count() finalizes a different
    // query), so read the formatted explain after execution
    val df = SparkEntry.queries("q92_grouping_sets")(spark, dir)
    graft.Bench.force(df)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Expand"),
      "q92: the Expand-based GROUPING SETS plan is back — the r20 " +
        "partial-reuse decomposition shuffles the fact once, not 3x")
    assert(p.contains("ReusedExchange"),
      s"q92: the marginal grains no longer reuse the base aggregate's " +
        s"exchange — the fact side is being re-scanned per grain: $p")
  }

  test("q76 rollup: partial-reuse plan — no Expand, marginals ride ReusedExchange") {
    // r20 adoption pin (the q92 pattern, second batch): ROLLUP's three
    // grains derive from ONE finest-grain aggregate — lineitem is scanned
    // and shuffled once; the (flag) and grand-total branches re-aggregate
    // the ~|flags|·|statuses|-row base via the reused exchange. A/B at
    // sf0.1: Expand 0.49–0.89 s vs 0.45 s (OPTIMIZATION_r20.md;
    // exceptAll = 0 both directions, ScaleSpec). q83's CUBE ran the same
    // A/B and was REJECTED — its Expand spelling stays pinned by its own
    // test below.
    val df = SparkEntry.queries("q76_rollup")(spark, dir)
    graft.Bench.force(df)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Expand"),
      "q76: the Expand-based ROLLUP plan is back — the r20 partial-reuse " +
        "decomposition shuffles the fact once, not 3x")
    assert(p.contains("ReusedExchange"),
      s"q76: the marginal grains no longer reuse the base aggregate's " +
        s"exchange — the fact side is being re-scanned per grain: $p")
  }

  test("q08 time series: distinct rides the pre-aggregation — no Expand, agg below the join") {
    // r20 adoption pin (VERDICT r19 #1): COUNT(DISTINCT join-key) became
    // count-rows-after-pre-agg (the q02 shape) — lineitem collapses to
    // one row per l_orderkey BELOW the broadcast join, so the mixed
    // distinct/plain aggregate's Expand x2 never appears.
    val p = executedPlan("q08_time_series")
    assert(!p.contains("Expand"),
      "q08: the mixed-distinct Expand plan is back — the r20 rewrite " +
        "pre-aggregates on the join key instead")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate\\(keys=\\[l_orderkey".r.findFirstIn(p).isDefined,
      s"q08: the per-order pre-aggregate (keys = [l_orderkey]) is gone: $p")
  }

  test("q49_jaccard drops hot shingles row-locally off a persisted array frame, " +
      "and only the thresholded candidate set reaches the expansion joins") {
    val df = SparkEntry.queries("q49_jaccard_top_pairs")(spark, dir)
    graft.Bench.force(df)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("InMemoryRelation"), "shingle-array frame must be persisted/reused")
    // r16: the hot cap is array_except against a broadcast 1-row hot set
    // (no anti-join), and n_sh rides the shuffles — the sizes table and
    // its two pair-frame joins (6.5 GB of spill at 100x) must stay gone
    assert(p.contains("array_except"), "hot-shingle cap must be row-local array_except")
    assert(!p.contains("LeftAnti"), "the exploded anti-join spelling is retired")
    // r19 (content layer): the pair frame may reach the id-expansion
    // joins ONLY through the jaccard >= T threshold filter — a join
    // consuming the UNFILTERED pair aggregate re-creates the r16
    // sizes-join catastrophe (joins over the full pair frame). Walk down
    // from the root (through caches — cand is persisted): any join whose
    // subtree holds the ra/rb pair aggregate must have a jaccard filter
    // on the path between them.
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def kids(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => pl.children
    }
    def isPairAgg(pl: SparkPlan): Boolean = pl match {
      case a: BaseAggregateExec =>
        val g = (a.groupingExpressions.map(_.name) ++
          a.groupingExpressions.flatMap(_.references.map(_.name)))
          .map(_.toLowerCase).toSet
        a.groupingExpressions.size >= 2 && Set("ra", "rb").subsetOf(g)
      case _ => false
    }
    var found = 0
    def walk(pl: SparkPlan, joinAboveUnfiltered: Boolean): Unit = {
      if (isPairAgg(pl)) {
        found += 1
        assert(!joinAboveUnfiltered,
          "q49: a join consumes the UNFILTERED pair aggregate — the " +
            "threshold filter must sit between the pair frame and the " +
            "id-expansion joins")
      }
      val flag = pl match {
        case f: FilterExec if f.condition.toString.contains("jaccard") => false
        case _: BaseJoinExec => true
        case _ => joinAboveUnfiltered
      }
      kids(pl).foreach(walk(_, flag))
    }
    walk(df.queryExecution.executedPlan, joinAboveUnfiltered = false)
    assert(found > 0, "q49: no ra/rb pair aggregate found — site refactored?")
    spark.catalog.clearCache()
  }

  test("q03_number_frequency prunes the scan to the referenced columns") {
    val p = executedPlan("q03_number_frequency")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_extendedprice:double>"), p)
  }

  test("q77 running window is partitioned (no single-partition global sort)") {
    val p = executedPlan("q77_window_running")
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // one shuffle on the window partition key, nothing more
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q80 moving average: daily rollup aggregates before the window") {
    val p = executedPlan("q80_moving_avg")
    assert(!p.contains("Exchange SinglePartition"), p)
    // partial agg (map-side) must appear below the window's shuffle
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Window"), p)
  }

  test("q83 cube expands grouping sets in one aggregate pass (single shuffle)") {
    val p = executedPlan("q83_cube")
    assert(p.contains("Expand"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q84 funnel is aggregate-only: no join in the plan") {
    val p = executedPlan("q84_funnel")
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q81 KLL sketch aggregates partially map-side (ObjectHashAggregate)") {
    val p = executedPlan("q81_kll_quantiles")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("kll_sketch_agg_double"), p)
    // three shuffles: the sketch merge on the group key, the rank-error
    // certificate's re-rank aggregate (broadcast of the tiny estimate
    // frame back over lineitem — a BroadcastHashJoin, never a shuffle
    // join), plus the certificate pass's widenScan xxhash64 spread —
    // present here because the test corpus is a 1-split file, a no-op at
    // real scan parallelism
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 3, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q12 nunique: one narrow suppkey exchange per branch, none on the (suppkey, key) pairs") {
    // r21 adoption pin: HashPartitioning(l_suppkey) satisfies each branch's
    // distinct, its per-suppkey count AND the final join (subset
    // clustering). The optimizer pushes per-branch column pruning below
    // the shared repartition, splitting it into TWO narrow 2-column
    // exchanges (one per branch) — each branch still loses its second
    // (suppkey, key)-pair exchange, which carried the same rows again.
    // A/B at sf0.1: 0.82/0.68 → 0.36/0.33 s (OPTIMIZATION_r21.md;
    // exceptAll = 0 both directions).
    // plan TREE string (not FormattedMode): AQE's final tree prints the
    // Exchange inline under its ShuffleQueryStage, so the count below
    // sees every distinct shuffle exactly once
    val df = SparkEntry.queries("q12_nunique_per_group")(spark, dir)
    graft.Bench.force(df)
    // final-plan section only: toString appends the pre-AQE Initial Plan,
    // which double-counts every exchange
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Expand"), "q12: the multi-distinct Expand is back")
    val hashEx = "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(hashEx.size == 2, s"q12: expected exactly two exchanges (one per branch): $p")
    assert(hashEx.forall(e => e.contains("l_suppkey") &&
        !e.contains("l_partkey") && !e.contains("l_orderkey")),
      s"q12: a branch is shuffling on its (suppkey, key) pair again " +
        s"instead of the narrow suppkey spread: $hashEx")
  }

  test("q180 substring dedup: two shuffles — the gkey exchange feeds both the aggregate and the window") {
    // r21 adoption pin: repartition(gkey) below the (gkey, doc_id)
    // aggregate satisfies the aggregate AND the window's partitionBy
    // (subset clustering) — the middle 21 MB exchange of the r17
    // three-shuffle design is gone. A/B at sf0.1: 0.51/0.55 → 0.39/0.38 s
    // (OPTIMIZATION_r21.md; exceptAll = 0 both directions).
    val df = SparkEntry.queries("q180_substring_dedup")(spark, dir)
    graft.Bench.force(df)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"q180: expected exactly two exchanges (gkey spread + doc rollup): $p")
  }

  test("q104 silhouette: row-local centroid margins — no cross join, no pivot exchange") {
    // r21 adoption pin: the bounded centroid table is collected and
    // own/best-other are row-local codegen'd cosine expressions; the
    // crossJoin × (vec_id, label) re-aggregate pivot is gone, leaving the
    // per-label aggregate's exchange as the query's only shuffle.
    val p = executedPlan("q104_cluster_silhouette")
    assert(p.contains("cosine_similarity"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q104: the centroid cross join is back: $p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"q104: expected exactly one exchange (the label aggregate): $p")
  }

  test("q134 star join: pushed segment filter, broadcast customer, TakeOrdered top-k") {
    val p = executedPlan("q134_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan")
    assert(p.contains("LessThan(o_orderdate") || p.contains("GreaterThan(l_shipdate"),
      "date filters must reach the fact scans")
  }

  test("q122 merge compiles to one full-outer sort-merge join on the key") {
    val p = executedPlan("q122_merge_upsert")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
  }

  test("q126 concurrency: sessionize persisted once, window partitioned by day") {
    // NOTE: can't count scans in the plan STRING — InMemoryTableScan
    // re-prints its cached child per consumer; the persist node itself is
    // the single-materialization guarantee.
    val p = executedPlan("q126_max_concurrency")
    assert(p.contains("InMemoryTableScan"),
      "session frame must be persisted, not recomputed per consumer")
    assert(p.contains("windowspecdefinition(day_idx"), p)
  }

  test("q127 anomaly window partitions by event_type, never a global sort") {
    // Every window must partition by event_type; the one-row bounds
    // min/max aggregate MAY single-partition its final step (that is the
    // correct shape: map-side partials, 1-row final), so a blanket
    // SinglePartition ban would false-positive on it.
    val p = executedPlan("q127_rolling_anomaly")
    val windows = "windowspecdefinition\\(".r.findAllIn(p).size
    val partitioned = "windowspecdefinition\\(event_type".r.findAllIn(p).size
    assert(windows > 0 && windows == partitioned, p)
  }

  test("q129 KS: marginals derive from the persisted histogram, windows partition by source") {
    val p = executedPlan("q129_ks_drift")
    assert(p.contains("InMemoryTableScan"),
      "histogram must be persisted — marginals must not re-scan the corpus")
    assert(p.contains("windowspecdefinition(source"), p)
  }

  test("q125 moments: persisted (segment, nation) partials feed both modes and power sums") {
    val p = executedPlan("q125_mode_moments")
    assert(p.contains("InMemoryTableScan"),
      "partials must be persisted — modes and sums must not re-scan customer")
  }

  test("q142 BM25 ranks via TakeOrderedAndProject with broadcast statistics") {
    val p = executedPlan("q142_bm25_topdocs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"), p)
    // r12 shape: dl/tf are row-local string counts for the constant query
    // set, so the ONLY exchanges are the single-row stats aggregate and
    // its broadcast — a hash-partitioned shuffle means the exploded
    // token aggregation crept back in
    assert(!p.contains("Exchange hashpartitioning"),
      s"BM25 must not shuffle — dl/tf are row-local for a constant query: $p")
    // and the token explode itself must be gone from both scans
    assert(!p.toLowerCase.contains("explode"),
      s"BM25 must not explode tokens — counts are string-local: $p")
    // the fused pass must appear at exactly 3 evaluation sites: stats
    // projection, scoring prefilter (ONE hit-count reference), scoring
    // projection — plus the scan's DataFilters echo of the prefilter
    // (4 textual matches). More means Catalyst cloned the expression per
    // disjunct/column again (the 5-evaluations-per-doc regression the
    // hit-count element prevents).
    val n = "token_term_counts".r.findAllIn(p).size
    assert(n <= 4, s"expected <=4 fused-pass mentions (3 sites + scan echo), found $n: $p")
  }

  test("q169 basket-lift attaches marginals by broadcast AFTER the top-20 limit") {
    // r12 shape: the heavy pair aggregate ends at the persisted top-20;
    // everything the returned plan adds on top of the caches must be
    // broadcast-side (marginal counts for ≤40 parts + the 1-row order
    // total). A hash-partitioned exchange here means a marginal table
    // is being shuffled against 20 rows again (the r11 regression).
    // Walk the plan tree — the string form inlines the cache-BUILD plans
    // (which legitimately shuffle) under InMemoryRelation, but children
    // traversal stops at InMemoryTableScan, which is exactly the
    // boundary we want.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("q169_basket_lift")(spark, dir)
    graft.Bench.force(df)
    def flat(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec        => flat(q.plan)
      case _                        => pl.children.flatMap(flat)
    })
    val nodes = flat(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "marginals must attach via broadcast joins")
    // the 1-row n_orders count legitimately gathers partials to a single
    // partition; only hash-partitioned DATA exchanges are regressions
    val shuffles = nodes.collect {
      case e: ShuffleExchangeLike
          if !e.outputPartitioning.toString.contains("SinglePartition") => e
    }
    assert(shuffles.isEmpty,
      s"marginals must broadcast onto the cached top-20, not shuffle: $shuffles")
  }

  test("q147 PageRank iterates over the persisted edge frame, never re-scanning the corpus") {
    val p = executedPlan("q147_token_pagerank")
    assert(p.contains("InMemoryTableScan"),
      "edge/rank frames must be persisted — iterations must not re-aggregate the corpus")
    // r12 shape: the edge cache is dst-partitioned and |V| rides as a
    // column, so the whole 3-round chain is broadcast-join + partition-
    // local aggregate — the steady-state plan may contain NO shuffle
    // exchange at all (stage boundaries are rank-frame broadcasts only).
    // Walk the real plan tree (a string check would see the CACHE BUILD
    // plans inlined under InMemoryRelation and false-positive).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q147_token_pagerank")(spark, dir)
    graft.Bench.force(df)
    def flat(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case q: QueryStageExec        => flat(q.plan)
      case _                        => pl.children.flatMap(flat)
    })
    val shuffles = flat(df.queryExecution.executedPlan)
      .filter(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles.isEmpty,
      s"iteration chain must not shuffle — dst-partitioned edge cache lost: $shuffles")
  }

  test("q85 fast path: labeling is broadcast joins above the content layer, no propagation loop") {
    // r12 shape, updated r19: the near-dup graph is metadata-sized after
    // banding (and now CONTENT-sized after the dedup layer), so the
    // RETURNED plan must attach labels by broadcast — the iterative loop
    // (per-round shuffles + checkpoints) must not appear. The pair miner
    // itself lives in persisted cache-build subtrees (evaluated once,
    // during connectedComponents' edge count), so the walk stops at cache
    // boundaries: the CONSUMING plan — explode + label attach + union —
    // must be shuffle-free.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("q85_dup_clusters")(spark, dir)
    graft.Bench.force(df)
    def flatNoCache(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
      case a: AdaptiveSparkPlanExec => flatNoCache(a.executedPlan)
      case q: QueryStageExec        => flatNoCache(q.plan)
      case _: InMemoryTableScanExec => Nil // miner audited by its own pins
      case _                        => pl.children.flatMap(flatNoCache)
    })
    val consuming = flatNoCache(df.queryExecution.executedPlan)
    spark.catalog.clearCache()
    assert(consuming.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "label map must arrive by broadcast join")
    assert(!consuming.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"fast-path labeling must not shuffle: " +
        consuming.map(_.nodeName).mkString(","))
  }

  test("no registered query plans a UDF or python-eval node") {
    // Structural codegen guard over the WHOLE surface: Scala UDFs plan as
    // ScalaUDF (opaque to codegen), python paths as BatchEvalPython /
    // ArrowEvalPython. None may appear anywhere — the engine's contract is
    // native expressions only (mapPartitions at the multimodal codec
    // boundary plans as MapPartitions, which stays allowed by design).
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      Seq("ScalaUDF", "BatchEvalPython", "ArrowEvalPython").foreach { node =>
        assert(!plan.contains(node), s"$name plans $node:\n$plan")
      }
    }
  }

  test("q57 range join plans as a window-frame count: no join, no pair explosion") {
    // r13 shape: per-type conditional counts over ONE rangeBetween frame
    // partitioned by user_id, then a tiny type_a rollup. A Join or a
    // generator here means the retired self-join spelling crept back —
    // that path shuffles 3n rows and materializes every in-band pair
    // (PLANS.md §q57: 2.8x slower at the 10x corpus).
    val p = executedPlan("q57_range_join")
    assert(!p.contains("Join"), s"q57 must not plan a join: $p")
    assert(!p.toLowerCase.contains("explode"), s"q57 must not explode: $p")
    assert(p.contains("windowspecdefinition(user_id"), p)
    // the window's user_id shuffle carries the n event rows; the rollup
    // exchange above it moves only map-side-combined (type_a) partials
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
  }

  // ---- r16: no-broadcast pins for the pair-explosive self-joins ----
  //
  // r15 found that a size-based broadcast of a banded/blocked frame glues
  // the QUADRATIC pair expansion to the probe side's partitioning — one
  // task on a single-split corpus (a 21-CPU-minute, 5 GB-spill runaway on
  // q49's posting list). The fix pins every such self-join off the
  // broadcast path (shuffle_hash/merge hints + output-sized exchanges).
  // These guards make the pins structural: for each of the six sites the
  // pair join must plan as ShuffledHashJoin/SortMergeJoin and NEVER
  // BroadcastHashJoin — checked on BOTH a cold input and a cache-filled
  // one. The second run is the race dimension that hid the bug for 14
  // rounds: the builders persist their banded frames, so a repeat call
  // reuses the filled InMemoryRelation and AQE re-plans with exact
  // (tiny) size stats — precisely the condition where a size-based
  // broadcast would fire if the hint lost precedence.

  private def flatPlan(pl: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    pl +: (pl match {
      case a: AdaptiveSparkPlanExec => flatPlan(a.executedPlan)
      // r19: q49's pair frame is persisted (the threshold collect reads
      // it before the expansion) — the posting self-join under audit
      // lives in the cache-build plan, so the walk must enter caches
      case s: InMemoryTableScanExec => flatPlan(s.relation.cachedPlan)
      case q: QueryStageExec        => flatPlan(q.plan)
      case _                        => pl.children.flatMap(flatPlan)
    })
  }

  /** Asserts every INNER equi-join whose key references are exactly
    * `keyNames` is a shuffled-hash or sort-merge join (never broadcast),
    * and that at least one such join exists — on a cold and on a
    * cache-filled input.
    */
  private def assertPairJoinPinned(label: String, keyNames: Set[String])(
      build: () => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    def check(tag: String): Unit = {
      val df = build()
      // finalize AQE on THIS queryExecution: Dataset.count() builds a
      // SEPARATE (count-rewritten) execution and leaves df's own adaptive
      // plan a draft — force() runs df.queryExecution.toRdd, so the walk
      // below reads the join choices that actually executed (r17)
      graft.Bench.force(df)
      val joins = flatPlan(df.queryExecution.executedPlan)
        .collect { case j: BaseJoinExec => j }
      val pairJoins = joins.filter { j =>
        j.joinType == Inner &&
          j.leftKeys.flatMap(_.references.map(_.name.toLowerCase)).toSet == keyNames
      }
      assert(pairJoins.nonEmpty,
        s"$label/$tag: no inner join keyed on ${keyNames.mkString(",")} — " +
          s"site refactored? joins: ${joins.map(_.nodeName).mkString(",")}")
      pairJoins.foreach { j =>
        assert(!j.isInstanceOf[BroadcastHashJoinExec],
          s"$label/$tag: pair-explosive self-join planned as BROADCAST — " +
            "the r15 one-task pair-expansion catastrophe is back")
        assert(j.isInstanceOf[ShuffledHashJoinExec] || j.isInstanceOf[SortMergeJoinExec],
          s"$label/$tag: pair self-join must partition by its bucket key, got ${j.nodeName}")
      }
    }
    spark.catalog.clearCache()
    try { check("cold"); check("cache-filled") }
    finally spark.catalog.clearCache()
  }

  test("q55 simhash near-dup pairs: banded self-join never broadcasts (cold + cached)") {
    assertPairJoinPinned("q55", Set("b", "k"))(
      () => SparkEntry.queries("q55_simhash_near_dups")(spark, dir))
  }

  test("q56 minhash candidate pairs: banded self-join never broadcasts (cold + cached)") {
    assertPairJoinPinned("q56", Set("b", "k"))(
      () => SparkEntry.queries("q56_minhash_candidates")(spark, dir))
  }

  test("q49 jaccard: posting-list self-join stays sort-merge/shuffled, never broadcast") {
    assertPairJoinPinned("q49", Set("shingle"))(
      () => SparkEntry.queries("q49_jaccard_top_pairs")(spark, dir))
  }

  test("q53 LSH bucket pairs: banded self-join never broadcasts (cold + cached)") {
    assertPairJoinPinned("q53", Set("band", "key"))(
      () => SparkEntry.queries("q53_ann_lsh")(spark, dir))
  }

  test("q116 fuzzy blocking: block self-join never broadcasts (cold + cached)") {
    assertPairJoinPinned("fuzzyShinglePairs", Set("bk"))(
      () => Curation.fuzzyShinglePairs(graft.Tables.load(spark, dir, "documents")))
  }

  // ---- r17: the q49 sizes-join cliff rule, generalized structurally ----
  //
  // r16's 100x sweep found that joins sitting ABOVE a pair/candidate
  // aggregate silently cross the broadcast threshold when their small
  // side grows with the corpus (per-doc sizes/source tables) and then
  // sort-merge the ENTIRE pair frame (q49: 113M rows, 6.5 GB spill, 60%
  // of wall). The rule: everything attached above a pair aggregate must
  // arrive by broadcast — equivalently, the pair frame itself must never
  // be a SHUFFLED input of a downstream join. These guards walk the
  // executed plan tree and assert (a) the pair aggregate exists (the
  // site wasn't refactored away), and (b) no ShuffledHashJoin/
  // SortMergeJoin ancestor reaches it except across a broadcast exchange
  // (a broadcast pair frame arrives by broadcast — the rule satisfied).
  // Caveat the guards cannot close: a post-aggregate join that happens
  // to BROADCAST at sf0.001 can still flip to sort-merge at corpus
  // scale — that class is covered by the 100x sweep (BASELINE.md), not
  // by a fixture-scale plan check.

  /** Asserts the executed plan has ≥1 aggregate whose grouping keys
    * include `pairKeys`, and that no shuffle join receives any such
    * aggregate's output on a SHUFFLED input: walking down from the root,
    * a ShuffledHashJoin/SortMergeJoin ancestor taints its subtrees EXCEPT
    * through a broadcast exchange — a pair frame that reaches a join via
    * BroadcastExchange arrives by broadcast (the rule satisfied), one that
    * reaches it any other way is being shuffled (the cliff).
    */
  private def assertNoShuffleJoinAbovePairAgg(label: String,
      pairKeys: Set[String], minGroupKeys: Int = 2)(
      build: () => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val df = build()
    graft.Bench.force(df) // finalize THIS plan's AQE (see pin helper note)
    def kids(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      // a pair frame persisted below post-aggregate consumers must stay
      // auditable: traverse into the cache-build plan
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => pl.children
    }
    def isPairAgg(pl: SparkPlan): Boolean = pl match {
      case a: BaseAggregateExec =>
        // output names catch `groupBy(col("x.doc_id").as("doc_a"), ...)`
        // (whose references are both plain doc_id); references catch
        // grouping on already-aliased columns
        val g = (a.groupingExpressions.map(_.name) ++
          a.groupingExpressions.flatMap(_.references.map(_.name)))
          .map(_.toLowerCase).toSet
        // minGroupKeys=2 keeps single-key per-doc aggregates (signature
        // builds, sizes tables) from matching when alias collapse leaves
        // both pair keys named doc_id (q150)
        a.groupingExpressions.size >= minGroupKeys && pairKeys.subsetOf(g)
      case _ => false
    }
    var found = 0
    def walk(pl: SparkPlan, shuffleJoinsAbove: List[String]): Unit = {
      if (isPairAgg(pl)) {
        found += 1
        assert(shuffleJoinsAbove.isEmpty,
          s"$label: pair aggregate output is SHUFFLED by a downstream join " +
            s"(the q49 sizes-join cliff class — everything attached above " +
            s"a pair aggregate must arrive by broadcast): " +
            shuffleJoinsAbove.mkString(","))
      }
      val sj = pl match {
        // below a broadcast exchange the frame arrives at every ancestor
        // join by broadcast — the rule is satisfied on this path
        case _: BroadcastExchangeLike => Nil
        case j @ (_: ShuffledHashJoinExec | _: SortMergeJoinExec) =>
          j.nodeName :: shuffleJoinsAbove
        case _ => shuffleJoinsAbove
      }
      kids(pl).foreach(walk(_, sj))
    }
    spark.catalog.clearCache()
    try {
      walk(df.queryExecution.executedPlan, Nil)
      assert(found > 0,
        s"$label: no aggregate grouped on ${pairKeys.mkString(",")} — site refactored?")
    } finally spark.catalog.clearCache()
  }

  test("q105 source matrix: content-pair frame is never shuffled by the source joins") {
    // r19: the pair aggregate moved to CONTENT granularity (the q150
    // pattern — weighted per-source accounting on rep pairs, no doc pair
    // materialized); the guard's subject is simhashRepPairs' verified-
    // hamming distinct, whose keys are the representative doc_ids ra/rb.
    assertNoShuffleJoinAbovePairAgg("q105", Set("ra", "rb"))(
      () => SparkEntry.queries("q105_dup_source_matrix")(spark, dir))
  }

  test("q143 minhash audit: candidate frame is never shuffled by the sig/sizes joins") {
    // r18: the pair aggregate moved to CONTENT granularity (keyed on
    // rep_a/rep_b — representative doc_ids, the duplication-audit fix);
    // the guard's subject is the same candidate-pair distinct, under its
    // new keys
    assertNoShuffleJoinAbovePairAgg("q143", Set("rep_a", "rep_b"))(
      () => SparkEntry.queries("q143_minhash_error_audit")(spark, dir))
  }

  /** Content-dedup-layer shape pin (r18, generalized r19): the signature
    * build and the banded self-join must consume the DISTINCT-TEXT
    * aggregate (groupBy cid of md5(text)), not per-doc rows — the shape
    * that collapsed the 100× duplication reading from a >77 GB
    * disk-exhaustion failure (q143) / 77–88 s pair sweeps (q55/q105) to
    * fixture-scale pair work. A per-doc signature build (doc_id-grouped
    * aggregation over the raw scan) reintroduces pair work that is
    * quadratic in the duplication degree.
    * The dedup aggregate lives inside the reps cache build, which the
    * plan STRING does not inline — walk the tree through caches (the
    * pin-helper convention) and stringify every level.
    */
  private def assertContentLayerShape(label: String)(
      build: () => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = build()
    graft.Bench.force(df)
    def flat(pl: SparkPlan): Seq[SparkPlan] = pl +: (pl match {
      case a: AdaptiveSparkPlanExec => flat(a.executedPlan)
      case s: InMemoryTableScanExec => flat(s.relation.cachedPlan)
      case q: QueryStageExec        => flat(q.plan)
      case _                        => pl.children.flatMap(flat)
    })
    val all = flat(df.queryExecution.executedPlan).map(_.verboseString(10)).mkString("\n")
    spark.catalog.clearCache()
    assert(all.contains("md5(cast(text"),
      s"$label: content id must be md5(text) — the dedup key the whole layer relies on")
    assert(all.contains("min(doc_id"),
      s"$label: representative selection (min doc_id per content) missing — " +
        "dedup layer refactored?")
    assert(all.contains("collect_list(doc_id"),
      s"$label: doc-id lists must ride the content-dedup aggregate")
    assert(all.contains("LeftSemi"),
      s"$label: the corpus must be cut to representative rows by a semi join " +
        "(no text may enter an aggregate — the object-agg fallback re-sorts the corpus)")
  }

  test("q143 minhash audit: the quadratic stage runs on the content-dedup universe") {
    assertContentLayerShape("q143")(
      () => SparkEntry.queries("q143_minhash_error_audit")(spark, dir))
  }

  test("q55 near-dup pairs: the quadratic stage runs on the content-dedup universe") {
    // r19 adoption pin (VERDICT r18 #1): the banded self-join and hamming
    // verification run per distinct text; doc pairs re-expand row-locally
    // (expandRepPairs/sameContentPairs).
    assertContentLayerShape("q55")(
      () => SparkEntry.queries("q55_simhash_near_dups")(spark, dir))
  }

  test("q105 source matrix: the quadratic stage runs on the content-dedup universe") {
    // r19 adoption pin: weighted source accounting on content pairs — the
    // per-source copy counts ride a skinny (md5, source) aggregate; no
    // doc pair is materialized anywhere in the plan.
    assertContentLayerShape("q105")(
      () => SparkEntry.queries("q105_dup_source_matrix")(spark, dir))
  }

  test("q116 fuzzy pairs: no pair-set aggregate, pair stream flows straight to top-k") {
    // r19 shave (the accept policy tripped at local[16]): the pair
    // distinct was removed by proof (two distinct 2-subsets of {0,1,2}
    // union to all three positions, so each surviving pair exits exactly
    // one rotation pass) and the hot cap became a co-partitioned semi.
    // Pin the shape: (a) NO aggregate keyed on the pair remains — its
    // return would re-add a pair-proportional exchange; (b) no shuffle
    // exchange sits between the pair join and the top-k root — the pair
    // stream must reach TakeOrdered without rematerializing.
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.Inner
    val df = SparkEntry.queries("q116_fuzzy_pairs")(spark, dir)
    graft.Bench.force(df)
    try {
      val nodes = flatPlan(df.queryExecution.executedPlan)
      val pairAggs = nodes.collect {
        case a: BaseAggregateExec
            if Set("sa", "sb").subsetOf(
              (a.groupingExpressions.map(_.name) ++
                a.groupingExpressions.flatMap(_.references.map(_.name)))
                .map(_.toLowerCase).toSet) => a
      }
      assert(pairAggs.isEmpty,
        "q116: an aggregate keyed on the pair set is back — the r19 " +
          "no-duplicates proof made the pair distinct (and its exchange) " +
          s"redundant: ${pairAggs.map(_.nodeName).mkString(",")}")
      assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        "q116: top-50 must plan as TakeOrderedAndProject (partial top-k " +
          "per partition), not a global sort")
      // walk root→pair join: no shuffle exchange may intervene. The
      // terminator must be THE pair join — its equi-keys reference bk —
      // so a future plan gaining an earlier Inner join above it (e.g. an
      // attach join) can't silently become the walk's anchor (r20,
      // advisor).
      def aboveJoin(pl: org.apache.spark.sql.execution.SparkPlan,
          exch: Int): Option[Int] = pl match {
        case j: BaseJoinExec if j.joinType == Inner &&
            j.leftKeys.flatMap(_.references.map(_.name.toLowerCase))
              .contains("bk") => Some(exch)
        case e: ShuffleExchangeLike =>
          e.children.view.flatMap(aboveJoin(_, exch + 1)).headOption
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          aboveJoin(a.executedPlan, exch)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          aboveJoin(q.plan, exch)
        case _ => pl.children.view.flatMap(aboveJoin(_, exch)).headOption
      }
      assert(aboveJoin(df.queryExecution.executedPlan, 0).contains(0),
        "q116: a shuffle exchange sits between the pair join and the " +
          "top-k root — the pair stream is being rematerialized")
    } finally spark.catalog.clearCache()
  }

  test("q150 threshold sweep: candidate pair frame is never shuffled downstream") {
    // r18: the pair aggregate runs at content granularity (x.rep/y.rep —
    // CollapseProject strips the ra/rb aliases, so both group columns
    // reference `rep`), and the weighted sweep consumes it with NO join
    // above at all (mult rides the aggregate itself).
    assertNoShuffleJoinAbovePairAgg("q150", Set("rep"))(
      () => SparkEntry.queries("q150_lsh_threshold_sweep")(spark, dir))
  }

  test("q139 pmi: the vocabulary-sized unigram table never broadcasts wholesale") {
    // The cliff rule's BROADCAST dual (r17): q139's pre-fix spelling
    // broadcast the corpus-growing unigram count table as the build side
    // of the top-20 attach joins — bounded at fixture scale, ~1.5M rows on
    // the 100× independent corpus, unboundable at 100 TB. The fixed plan
    // bounds the token stream at the scan: a single-key token aggregate
    // may appear under a BroadcastExchange ONLY if a LeftSemi broadcast
    // join or a limit bounds it — on the path above it (pivot after the
    // agg) or anywhere in its own subtree (the r17 scan-level semi /
    // `wanted`'s distinct over the limited top frame). An unbounded token
    // aggregate on a broadcast path is the pre-r17 cliff spelling.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    val df = SparkEntry.queries("q139_bigram_pmi")(spark, dir)
    graft.Bench.force(df) // AQE-final plan (see pin helper note)
    def kids(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => pl.children
    }
    def isTokenAgg(pl: SparkPlan): Boolean = pl match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.size == 1 &&
          a.groupingExpressions.flatMap(_.references.map(_.name.toLowerCase))
            .contains("w")
      case _ => false
    }
    def isBound(pl: SparkPlan): Boolean = pl match {
      case j: BroadcastHashJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    def subtreeBounded(pl: SparkPlan): Boolean =
      isBound(pl) || kids(pl).exists(subtreeBounded)
    def walk(pl: SparkPlan, inBroadcast: Boolean, bounded: Boolean): Unit = {
      assert(!(inBroadcast && !bounded && isTokenAgg(pl) && !subtreeBounded(pl)),
        "q139: a token (vocabulary-keyed) aggregate is a broadcast build " +
          "side with no semi-join/limit bound above or below it — the " +
          "corpus-growing frame is being shipped wholesale (pre-r17 " +
          "cliff spelling)")
      val inB = inBroadcast || pl.isInstanceOf[BroadcastExchangeLike]
      val b = if (inB && !inBroadcast) isBound(pl) else bounded || isBound(pl)
      kids(pl).foreach(walk(_, inB, b))
    }
    spark.catalog.clearCache()
    try walk(df.queryExecution.executedPlan, inBroadcast = false, bounded = false)
    finally spark.catalog.clearCache()
  }

  test("shingle family extracts through the fused word_shingles expression") {
    // The r12 zero-copy expression replaced the interpreted
    // transform/slice/concat_ws spelling across the banded-dedup family's
    // shared linear term; a refactor that silently falls back to the HOF
    // path would cost 3-5x on the corpus scan (PLANS.md / BASELINE 10x
    // table). String-level pin, same convention as the cosine check.
    Seq("q45_shingle_stats", "q48_minhash", "q49_jaccard_top_pairs",
      "q56_minhash_candidates", "q89_repetition_stats",
      "q90_boilerplate_ngrams", "q101_winnow_fingerprint",
      "q116_fuzzy_pairs", "q145_ngram_novelty", "q154_source_overlap",
      "q180_substring_dedup").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("word_shingles"),
        s"$name no longer plans the fused word_shingles expression")
    }
  }

  test("graft expressions run on a fresh session and register no function") {
    // Every graft expression enters a plan through its Column constructor,
    // so a query using it runs on any session and leaves that session's
    // function registry untouched. One registered query per family.
    val s = spark.newSession()
    val keys = Seq(
      "q49_jaccard_top_pairs", // WordShingles
      "q103_heavy_hitters", // MgFreqText
      "q117_cross_corpus_dedup", // bloom aggregate + probe
      "q51_ann_brute_force", // CosineSimilarity
      "q142_bm25_topdocs") // TokenTermCounts
    try keys.foreach { k =>
      assert(SparkEntry.queries(k)(s, dir).collect().nonEmpty, s"$k returned no rows")
    } finally s.catalog.clearCache()
    val names = Seq("cosine_similarity", "token_term_counts", "word_shingles",
      "mg_freq_text", "bloom_agg", "bloom_might_contain")
    val registered = names.filter(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(registered.isEmpty, s"session registry holds $registered")
  }
}
