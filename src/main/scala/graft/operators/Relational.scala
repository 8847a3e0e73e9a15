package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Core relational operators: the reference's seven Gold aggregation queries
  * (reference sql/gold/01..07_*.sql) re-expressed over the synthetic star
  * schema. Mapping: `premios` (fact) → `lineitem`, `sorteos` (draw dim) →
  * `orders`, `vendedor` sentinel `'NO VENDIDO'` → `l_returnflag = 'N'`,
  * geo dims → `supplier`/`nation`.
  *
  * Scale notes (the plans these produce at 100 TB):
  *  - fact⋈draw joins shuffle on the natural key (orderkey) — co-partitioned
  *    aggregation follows the join with no extra exchange.
  *  - genuinely-small dims (supplier, nation) are broadcast explicitly; the
  *    big join never broadcasts.
  *  - every aggregate is a partial+final HashAggregate (map-side combine) —
  *    verified via .explain in the plan audit.
  *
  * Determinism: double summation order varies across partitions, so every
  * SUM over a double column accumulates as decimal(18,6) and casts back to
  * double ([[Relational.dsum]]). Results are bit-identical run-to-run and
  * hash-comparable against the DuckDB oracle at any partition count.
  */
object Relational {

  /** Order-insensitive exact sum of a double column: accumulate as decimal,
    * return double. Precision 18 keeps every per-row cast inside Spark's
    * compact long-backed Decimal fast path (precision ≤ 18 avoids
    * per-row java.math.BigDecimal allocation). Oracle side:
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`.
    *
    * r17: the aggregation itself runs as [[graft.functions.DecSum6]] — the
    * builtin `sum(decimal(18,6))` widens its buffer to decimal(28,6), which
    * exceeds the UnsafeRow mutable-long limit (18 digits) and pays a
    * JavaBigDecimal serialize/deserialize PER ROW in the hash aggregate
    * (~55% of q01's wall at the 100× corpus, BASELINE.md). DecSum6 keeps the
    * identical per-row cast (so coercion semantics and the resulting
    * rational sum are unchanged — bit-identical doubles, DecimalSumSpec)
    * but accumulates the unscaled long in a carry-normalized pair of
    * primitive longs: same exactness, same ~10²² overflow-to-null domain,
    * codegen'd long arithmetic instead of buffer reserialization.
    *
    * Input contract: finite doubles. On NaN/Infinity Spark's non-ANSI cast
    * yields NULL (silently dropped from the SUM) while the DuckDB oracle's
    * CAST raises — engine and oracle would diverge in behavior, so dirty
    * numeric feeds must be cleansed (nanvl/isnan) upstream. The testdata
    * is verified NaN-free.
    */
  def dsum(c: Column): Column =
    graft.functions.DecSum6.column(c.cast(DecimalType(18, 6))).cast("double")

  /** [[dsum]] without the final double cast — for partial-reuse sites
    * (q08/q76/q92 class) whose decimal partial is re-aggregated exactly
    * downstream before ONE cast to double at the end. Returns
    * decimal(32,6) holding the same exact rational as the builtin
    * `sum(decimal(18,6))`'s (28,6) — any exact re-sum and the final cast
    * are therefore bit-identical (guide §4: the builtin's (28,6) buffer
    * exceeds Decimal.MAX_LONG_DIGITS, so every map-side update round-trips
    * a JavaBigDecimal through the hash buffer; DecSum6's all-long buffer
    * stays on the mutable-UnsafeRow codegen path).
    */
  def dsumDec(c: Column): Column =
    graft.functions.DecSum6.column(c.cast(DecimalType(18, 6)))

  /** Oracle-side SQL spelling of [[dsum]]. The decimal→double hop goes
    * through VARCHAR: DuckDB's direct DECIMAL→DOUBLE cast double-rounds
    * (int128→double, then divide by 10^scale) and can be off by one ulp,
    * while string→double (strtod) and Spark's BigDecimal.doubleValue are
    * both correctly rounded — so only the VARCHAR route matches Spark
    * bit-for-bit on every value.
    */
  def dsumSql(expr: String): String =
    s"CAST(CAST(SUM(CAST($expr AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"

  /** Order-insensitive exact mean: decimal-sum / count, both deterministic. */
  def davg(c: Column): Column = dsum(c) / count(c)
  def davgSql(expr: String): String = s"${dsumSql(expr)} / COUNT($expr)"

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** A1/A4: multi-key hash aggregate with SUM/MAX/COUNT (pricing-summary
    * shape; reference sql/gold/01_gold_draw_summary.sql:33-50 computes the
    * same COUNT/SUM/MAX family per draw).
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("n_rows"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS n_rows,
      |  MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Gold 01 (draw summary, reference 01_gold_draw_summary.sql:33-50): join
    * fact⋈draw, per-draw COUNT / FILTERed COUNT / NULLIF-guarded ROUND ratio
    * / SUM / FILTERed SUM / MAX. Covers J1, A2 (null-skipping COUNT(col) via
    * a NULLIF-derived nullable column), A3, A4, A5, C3, C4, F2.
    *
    * The `<>` sentinel predicate is null-rejecting exactly like the
    * reference's `vendedor <> 'NO VENDIDO'` (01:38-39).
    */
  def qDrawSummary(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    // widenScanOn (r20, guide §2.5): the 7-aggregate per-order partial agg
    // fused into the 3-row-group scan stage and ran near-serial (616 ms
    // CPU in 3 tasks). Repartitioning on the GROUP key parallelizes
    // it AND is the aggregate's required partitioning, so the agg's own
    // exchange disappears — one exchange total, now placed below the CPU.
    // A/B same window: 0.81–0.88 → 0.76 s (OPTIMIZATION_r20.md, exceptAll = 0).
    // No-op on any input whose scan already yields ≥ cores splits.
    val l = graft.Tables.widenScanOn(t(s, dir, "lineitem")
      // nullable "prize number": NULL when linenumber = 1 — exercises the
      // COUNT(col)-skips-nulls half of A2 (the testdata has no native nulls).
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"),
        nullif(col("l_linenumber"), lit(1)).as("item_id")),
      col("l_orderkey"))
    val flagged = col("l_returnflag") =!= "N"
    // Aggregate BELOW the join: the group keys contain the join key and the
    // dim columns are functionally dependent on it, so the fact side
    // collapses to one row per order BEFORE the join — join input is
    // |orders|, not |lineitem|, which is the plan that survives 100 TB.
    val perOrder = l.groupBy(col("l_orderkey"))
      .agg(
        count(col("item_id")).as("total_items"),
        count(lit(1)).as("total_rows"),
        count(when(flagged, col("item_id"))).as("items_flagged"),
        round(lit(100.0) * count(when(flagged, col("item_id"))) /
          nullif(count(col("item_id")), lit(0)), 2).as("pct_flagged"),
        dsum(col("l_extendedprice")).as("total_price"),
        dsum(when(flagged, col("l_extendedprice"))).as("price_flagged"),
        max(col("l_extendedprice")).as("top_price"))
    o.join(perOrder, o("o_orderkey") === perOrder("l_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        col("total_items"), col("total_rows"), col("items_flagged"),
        col("pct_flagged"), col("total_price"), col("price_flagged"),
        col("top_price"))
  }

  val qDrawSummarySql: String =
    s"""WITH l AS (SELECT *, NULLIF(l_linenumber, 1) AS item_id FROM lineitem)
       |SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority,
       |  COUNT(l.item_id) AS total_items,
       |  COUNT(*) AS total_rows,
       |  COUNT(l.item_id) FILTER (WHERE l.l_returnflag <> 'N') AS items_flagged,
       |  ROUND(CAST(100.0 AS DOUBLE) * COUNT(l.item_id) FILTER (WHERE l.l_returnflag <> 'N')
       |        / NULLIF(COUNT(l.item_id), 0), 2) AS pct_flagged,
       |  ${dsumSql("l.l_extendedprice")} AS total_price,
       |  ${dsumSql("CASE WHEN l.l_returnflag <> 'N' THEN l.l_extendedprice END")} AS price_flagged,
       |  MAX(l.l_extendedprice) AS top_price
       |FROM orders o JOIN l ON l.l_orderkey = o.o_orderkey
       |GROUP BY o.o_orderkey, o.o_orderstatus, o.o_orderpriority""".stripMargin

  /** Gold 02 (winning-number frequency, reference
    * 02_gold_winning_number_frequency.sql:22-29): single-key group with
    * IS-NOT-NULL pre-filter, COUNT(*) / SUM / MAX. Covers A1, A4, F1.
    */
  def qNumberFrequency(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_partkey").isNotNull)
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("veces_ganador"),
        dsum(col("l_extendedprice")).as("total_monto"),
        max(col("l_extendedprice")).as("max_monto"))

  val qNumberFrequencySql: String =
    s"""SELECT l_partkey,
       |  COUNT(*) AS veces_ganador,
       |  ${dsumSql("l_extendedprice")} AS total_monto,
       |  MAX(l_extendedprice) AS max_monto
       |FROM lineitem WHERE l_partkey IS NOT NULL
       |GROUP BY l_partkey""".stripMargin

  /** Gold 03 (terminations, reference 03_gold_terminations.sql:27-33):
    * group by the computed key `LPAD(CAST(x % 100 AS STRING), 2, '0')` —
    * length-robust last-2-digits. Covers C1 and expression group keys.
    */
  def qTerminations(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_partkey").isNotNull)
      .groupBy(lpad((col("l_partkey") % 100).cast("string"), 2, "0").as("terminacion"))
      .agg(
        count(lit(1)).as("veces_ganador"),
        dsum(col("l_extendedprice")).as("total_monto"))

  val qTerminationsSql: String =
    s"""SELECT LPAD(CAST(l_partkey % 100 AS VARCHAR), 2, '0') AS terminacion,
       |  COUNT(*) AS veces_ganador,
       |  ${dsumSql("l_extendedprice")} AS total_monto
       |FROM lineitem WHERE l_partkey IS NOT NULL
       |GROUP BY LPAD(CAST(l_partkey % 100 AS VARCHAR), 2, '0')""".stripMargin

  /** Gold 04 (letters distribution, reference
    * 04_gold_letters_distribution.sql:22-28): low-cardinality categorical
    * group with IS-NOT-NULL filter.
    */
  def qLettersDistribution(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_returnflag").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("veces_ganador"),
        dsum(col("l_extendedprice")).as("total_monto"))

  val qLettersDistributionSql: String =
    s"""SELECT l_returnflag,
       |  COUNT(*) AS veces_ganador,
       |  ${dsumSql("l_extendedprice")} AS total_monto
       |FROM lineitem WHERE l_returnflag IS NOT NULL
       |GROUP BY l_returnflag""".stripMargin

  /** Gold 05 (geo winnings, reference 05_gold_geo_winnings.sql:26-37):
    * fact ⋈ two small dims (broadcast), sentinel + not-null filters, group
    * by (geo, YEAR). Covers J1-broadcast, C2, F1, F2.
    *
    * supplier and nation are genuinely small (100 / 25 rows; bounded in any
    * real deployment) — broadcast both so the fact table never shuffles.
    */
  def qGeoWinnings(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .where(col("l_returnflag") =!= "N" && col("l_shipdate").isNotNull)
      .groupBy(col("n_name"), year(col("l_shipdate")).as("year"))
      .agg(
        count(lit(1)).as("num_ganadores"),
        dsum(col("l_extendedprice")).as("total_monto"))
  }

  val qGeoWinningsSql: String =
    s"""SELECT n.n_name, YEAR(l.l_shipdate) AS year,
       |  COUNT(*) AS num_ganadores,
       |  ${dsumSql("l.l_extendedprice")} AS total_monto
       |FROM lineitem l
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |JOIN nation n ON s.s_nationkey = n.n_nationkey
       |WHERE l.l_returnflag <> 'N' AND l.l_shipdate IS NOT NULL
       |GROUP BY n.n_name, YEAR(l.l_shipdate)""".stripMargin

  /** Gold 06 (vendor leaderboard, reference
    * 06_gold_vendor_leaderboard.sql:27-38): per-vendor per-year totals with
    * both null and sentinel exclusion (the two are distinct states —
    * reference 06:35-36 filters both explicitly).
    */
  def qVendorLeaderboard(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val sup = t(s, dir, "supplier")
    // shuffle-hash on the fact⋈orders leg (r15): the downstream agg hash-
    // groups regardless, so sort-merge's two sorts are pure waste — hash
    // build on the (smaller, pruned) orders side, stream lineitem
    l.join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .where(col("s_name").isNotNull && col("l_returnflag") =!= "N" &&
        col("o_orderdate").isNotNull)
      .groupBy(col("s_name"), year(col("o_orderdate")).as("year"))
      .agg(
        count(lit(1)).as("num_premios"),
        dsum(col("l_extendedprice")).as("total_monto"))
  }

  val qVendorLeaderboardSql: String =
    s"""SELECT s.s_name, YEAR(o.o_orderdate) AS year,
       |  COUNT(*) AS num_premios,
       |  ${dsumSql("l.l_extendedprice")} AS total_monto
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |WHERE s.s_name IS NOT NULL AND l.l_returnflag <> 'N'
       |  AND o.o_orderdate IS NOT NULL
       |GROUP BY s.s_name, YEAR(o.o_orderdate)""".stripMargin

  /** Gold 07 (time series, reference 07_gold_time_series.sql:27-37):
    * per (YEAR, MONTH): COUNT(DISTINCT draw), COUNT(item), SUM. Covers A6
    * (exact distinct inside group), C2.
    *
    * r20 pre-aggregation rewrite (VERDICT r19 #1 — the q92-class Expand
    * question): the mixed distinct/non-distinct aggregate planned as
    * Expand ×2 — every joined row duplicated into a distinct copy (keyed
    * year, month, o_orderkey) and a plain copy, double the aggregate
    * probes with the decimal buffer riding one lane. The distinct key IS
    * the join key, so aggregate BELOW the join instead (the q02 shape):
    * collapse lineitem to one row per l_orderkey (COUNT(l_partkey) +
    * exact decimal partial), broadcast-join orders, and the final
    * (year, month) aggregate counts ROWS for num_sorteos — each
    * surviving row is one distinct order by construction — and sums the
    * decomposable partials (DECIMAL(18,6)→(28,6)→(38,6), exact; the
    * double cast happens once at the end, so the result is bit-identical
    * to the Expand plan and the untouched oracle). One 1× fact shuffle
    * (map-side-combined on a sorted-by-orderkey layout) replaces the 2×
    * Expand shuffle. A/B same JVM/window at sf0.1, local[16], two
    * windows (OPTIMIZATION_r20.md; exceptAll = 0 both directions,
    * ScaleSpec): Expand 1.44–1.75 s warm vs this 1.09–1.31 s — adopted
    * (BASELINE r20).
    */
  def qTimeSeries(s: SparkSession, dir: String): DataFrame = {
    // widenScanOn (r20, the q02 shape): the per-order pre-aggregate ran
    // fused into the 3-task scan stage, near-serial (562 ms CPU
    // writing 147k partials). Repartitioning on the group key is also the
    // aggregate's required partitioning. A/B same window: 0.81–0.88 →
    // 0.74 s (OPTIMIZATION_r20.md, exceptAll = 0). No-op at real scan
    // parallelism.
    val l = graft.Tables.widenScanOn(t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice")),
      col("l_orderkey"))
    val o = t(s, dir, "orders")
    // r21: dsumDec replaces the builtin sum(decimal(18,6)) — the (28,6)
    // buffer exceeded MAX_LONG_DIGITS, so the 600k-row map-side probe
    // round-tripped a JavaBigDecimal per row (R21 A/B: 0.61/0.64 →
    // see OPTIMIZATION_r21.md; exceptAll = 0 — same exact rational,
    // same final cast).
    val perOrder = l.groupBy(col("l_orderkey")).agg(
      count(col("l_partkey")).as("np"),
      dsumDec(col("l_extendedprice")).as("sm"))
    perOrder.join(o, col("l_orderkey") === o("o_orderkey"))
      .where(col("o_orderdate").isNotNull)
      .groupBy(year(col("o_orderdate")).as("year"), month(col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("num_sorteos"),
        sum(col("np")).as("num_premios"),
        sum(col("sm")).cast("double").as("total_monto"))
  }

  val qTimeSeriesSql: String =
    s"""SELECT YEAR(o.o_orderdate) AS year, MONTH(o.o_orderdate) AS month,
       |  COUNT(DISTINCT o.o_orderkey) AS num_sorteos,
       |  COUNT(l.l_partkey) AS num_premios,
       |  ${dsumSql("l.l_extendedprice")} AS total_monto
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE o.o_orderdate IS NOT NULL
       |GROUP BY YEAR(o.o_orderdate), MONTH(o.o_orderdate)""".stripMargin

  /** All gold-query entries, keyed for SparkEntry. */
  /** q134: the canonical selective star join (TPC-H Q3 shape) — segment-
    * filtered customers ⋈ date-filtered orders ⋈ date-filtered lineitem,
    * revenue per order, top-10. The plan this MUST compile to at scale:
    * both dimension filters pushed into the parquet scans, customer side
    * broadcast (segment cut makes it small), ONE shuffle on the
    * fact-side join key, TakeOrderedAndProject (never a global sort).
    * Guarded in PlanSpec.
    */
  def qStarJoinTopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cut = "1998-06-30"
    val c = t(s, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = t(s, dir, "orders")
      .where(col("o_orderdate") < lit(cut).cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = t(s, dir, "lineitem")
      .where(col("l_shipdate") > lit(cut).cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
  }

  val qStarJoinTopRevenueSql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-06-30'
       |  AND l_shipdate > TIMESTAMP '1998-06-30'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
       |LIMIT 10""".stripMargin

  /** q135: decorrelated correlated subquery — orders priced above 1.5×
    * their own customer's average ("whales per priority"). The correlated
    * `> (SELECT avg ... WHERE custkey = outer)` decorrelates to a window
    * aggregate over ONE shuffle on custkey — never a per-row subquery or
    * a self-join that reshuffles the table twice.
    */
  def qAboveCustomerAvg(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
    t(s, dir, "orders")
      .withColumn("cust_avg",
        sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w).cast("double")
          / count(lit(1)).over(w))
      .where(col("o_totalprice") > lit(1.5) * col("cust_avg"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_above"), dsum(col("o_totalprice")).as("price_sum"))
  }

  val qAboveCustomerAvgSql: String =
    """WITH w AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
      |      OVER (PARTITION BY o_custkey) AS VARCHAR) AS DOUBLE)
      |      / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n_above,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |    AS price_sum
      |FROM w WHERE o_totalprice > 1.5 * cust_avg
      |GROUP BY o_orderpriority""".stripMargin

  /** q169: market-basket pair mining — the top-20 part pairs most often
    * bought together in one order, with the lift each pair shows over
    * independence (n_ab·n_orders / (n_a·n_b)). The co-purchase shape
    * behind recommenders and anomaly screens, on an UNBOUNDED key domain
    * (parts), unlike q151's bounded event-type affinity.
    *
    * Scale shape (r12): ONE shuffle on l_orderkey builds the per-order
    * basket (`collect_set` — the distinct rides along free), and the
    * C(items, 2) pair expansion is a row-local sorted-array transform,
    * so per-order fanout is bounded by basket size, never a part×part
    * product. Top-20 is TakeOrderedAndProject with a full
    * (count, part_a, part_b) tiebreak. Marginals are filtered BELOW the
    * aggregate: only the ≤40 parts appearing in the top-20 pairs ever
    * need `n_p`, so the exploded parts are semi-joined against the
    * broadcast 40-part list FIRST and the count runs over the survivors
    * (a ~40-group exchange) — the r11 spelling aggregated the full
    * |parts|-sized marginal table twice. `top` has three consumers
    * (part list + both marginal attachments), hence the 20-row persist;
    * without it the heavy pair aggregate would re-run per consumer. At
    * 100 TB the same shape holds: marginal counting touches only the
    * surviving keys, never the full part domain, and everything after
    * the pair aggregate is broadcast-sized.
    */
  def qBasketLift(s: SparkSession, dir: String): DataFrame = {
    val baskets = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .persist()
    // sorted basket ⇒ emitted pairs already satisfy a < b
    val top0 = baskets
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("part_a").asc, col("part_b").asc)
      .limit(20)
    val top = top0.persistFilled()
    // r21 cold-build guard (the q147 warm-gated fill convention): the
    // final plan hangs FOUR broadcast builds (parts, counts×2, nOrders)
    // off these caches, and on a cold run their threads raced the
    // unfilled baskets/top entries, each replaying the basket fill or the
    // pair aggregate (cold 2.06 s vs 0.19 warm, r21 bench). Two gated
    // fills serialize the heavy passes exactly once; warm builds skip
    // them entirely, so the steady-state path is unchanged (the
    // sequential-collect alternative — marginals as literal maps — was
    // A/B-run and REJECTED: it serialized the warm cached reads the
    // broadcast threads do in parallel; OPTIMIZATION_r21.md).
    val parts = top
      .select(explode(array(col("part_a"), col("part_b"))).as("l_partkey"))
      .distinct()
    val counts = baskets.select(explode(col("ps")).as("l_partkey"))
      .join(broadcast(parts), Seq("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_p"))
      .persist()
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    top
      .join(broadcast(counts.select(col("l_partkey").as("part_a"), col("n_p").as("n_a"))),
        Seq("part_a"))
      .join(broadcast(counts.select(col("l_partkey").as("part_b"), col("n_p").as("n_b"))),
        Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab") * col("n_orders")).cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
  }

  val qBasketLiftSql: String =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
      |marg AS (SELECT l_partkey, COUNT(*) AS n_p FROM op GROUP BY 1),
      |top AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
      |  FROM op a JOIN op b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  ORDER BY n_ab DESC, part_a ASC, part_b ASC LIMIT 20)
      |SELECT t.part_a, t.part_b, t.n_ab, ma.n_p AS n_a, mb.n_p AS n_b,
      |  ROUND(CAST(t.n_ab * no.n_orders AS DOUBLE)
      |    / CAST(ma.n_p * mb.n_p AS DOUBLE), 6) AS lift
      |FROM top t
      |JOIN marg ma ON ma.l_partkey = t.part_a
      |JOIN marg mb ON mb.l_partkey = t.part_b
      |CROSS JOIN no""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q169_basket_lift" -> (qBasketLift _),
    "q134_star_join" -> (qStarJoinTopRevenue _),
    "q135_above_cust_avg" -> (qAboveCustomerAvg _),
    "q01_agg_multikey" -> (q1Agg _),
    "q02_draw_summary" -> (qDrawSummary _),
    "q03_number_frequency" -> (qNumberFrequency _),
    "q04_terminations" -> (qTerminations _),
    "q05_letters_distribution" -> (qLettersDistribution _),
    "q06_geo_winnings" -> (qGeoWinnings _),
    "q07_vendor_leaderboard" -> (qVendorLeaderboard _),
    "q08_time_series" -> (qTimeSeries _))

  val oracle: Map[String, String] = Map(
    "q169_basket_lift" -> qBasketLiftSql,
    "q134_star_join" -> qStarJoinTopRevenueSql,
    "q135_above_cust_avg" -> qAboveCustomerAvgSql,
    "q01_agg_multikey" -> q1Sql,
    "q02_draw_summary" -> qDrawSummarySql,
    "q03_number_frequency" -> qNumberFrequencySql,
    "q04_terminations" -> qTerminationsSql,
    "q05_letters_distribution" -> qLettersDistributionSql,
    "q06_geo_winnings" -> qGeoWinningsSql,
    "q07_vendor_leaderboard" -> qVendorLeaderboardSql,
    "q08_time_series" -> qTimeSeriesSql)
}
