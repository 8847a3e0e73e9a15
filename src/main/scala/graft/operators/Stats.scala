package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Grouped statistical modeling primitives: per-group OLS trend and
  * higher-moment distribution shape (mode / skewness / kurtosis).
  *
  * Float determinism follows the repo convention: every Σ that feeds a
  * float result accumulates in exact DECIMAL (partial-aggregatable,
  * partition-order-free), the closed-form arithmetic then runs on
  * bit-identical doubles in both engines, and m2^1.5 is spelled
  * `m2 * sqrt(m2)` because sqrt is IEEE-exact in both engines while
  * pow() is libm-dependent.
  */
object Stats {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** q124: per-priority OLS trend of order value over time (slope in
    * price-units/day, intercept at epoch). x = epoch-day (int), y = price;
    * Σx, Σx² are exact BIGINT sums, Σy and Σxy exact decimal sums — one
    * hash aggregate over a bounded group domain, everything map-side
    * combinable: the 100 TB shape for regression-per-segment.
    */
  def qGroupOls(s: SparkSession, dir: String): DataFrame = {
    val xy = t(s, dir, "orders").select(
      col("o_orderpriority").as("priority"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .cast("long").as("x"),
      col("o_totalprice").cast(DecimalType(18, 6)).as("y"))
    val agg = xy.groupBy(col("priority")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(28, 6))).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    agg.select(
      col("priority"),
      col("n").cast("bigint").as("n_orders"),
      round((col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
      round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy"))
        / (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx"))
        / col("n"), 6).as("intercept"))
  }

  val qGroupOlsSql: String =
    """WITH xy AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS x,
      |    CAST(o_totalprice AS DECIMAL(18,6)) AS y
      |  FROM orders),
      |a AS (
      |  SELECT priority, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx
      |  FROM xy GROUP BY priority)
      |SELECT priority, CAST(n AS BIGINT) AS n_orders,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept
      |FROM a""".stripMargin

  /** q125: per-segment distribution shape — modal nation (most frequent,
    * tie to smallest key) and population skewness/kurtosis of account
    * balance from exact decimal power sums. Intermediate powers round to
    * DECIMAL(18,6)/(24,6) — the SAME rounding on both engines (half away
    * from zero), so Σx, Σx², Σx³, Σx⁴ are bit-identical; the central-
    * moment arithmetic then runs in double. At unbounded scale the x⁴
    * sum needs the shifted-data spelling (subtract an approximate mean
    * first) to stay inside decimal range; at ±10⁴ balances the raw sums
    * fit DECIMAL(24,6) through petabyte row counts.
    */
  def qModeMoments(s: SparkSession, dir: String): DataFrame = {
    // ONE scan: (segment, nation) partials carry both the mode counts and
    // the decimal power sums; modes and segment-level sums then derive
    // from that bounded frame (decimal sums re-aggregate exactly).
    val xd = col("c_acctbal").cast(DecimalType(18, 6))
    val partials = t(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"), xd.as("x1"))
      .withColumn("x2", (col("x1") * col("x1")).cast(DecimalType(18, 6)))
      .withColumn("x3", (col("x2") * col("x1")).cast(DecimalType(18, 6)))
      .withColumn("x4", (col("x2") * col("x2")).cast(DecimalType(24, 6)))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("x1")).as("p1"), sum(col("x2")).as("p2"),
        sum(col("x3")).as("p3"), sum(col("x4")).as("p4"))
      .persist()
    val modes = partials
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("cnt").desc, col("c_nationkey").asc)))
      .where(col("rn") === 1)
      .select(col("c_mktsegment"), col("c_nationkey").as("mode_nation"),
        col("cnt").as("mode_n"))
    val sums = partials.groupBy(col("c_mktsegment")).agg(
      sum(col("cnt")).cast("double").as("n"),
      sum(col("p1")).cast("double").as("s1"),
      sum(col("p2")).cast("double").as("s2"),
      sum(col("p3")).cast("double").as("s3"),
      sum(col("p4")).cast("double").as("s4"))
    val mean = col("s1") / col("n")
    val m2 = col("s2") / col("n") - mean * mean
    val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
      lit(6.0) * mean * mean * (col("s2") / col("n")) -
      lit(3.0) * mean * mean * mean * mean
    sums
      .select(col("c_mktsegment"), col("n").cast("bigint").as("n_customers"),
        round(mean, 6).as("mean_acctbal"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis"))
      .join(modes, Seq("c_mktsegment"))
  }

  val qModeMomentsSql: String =
    """WITH modes AS (
      |  SELECT c_mktsegment, c_nationkey AS mode_nation, cnt AS mode_n FROM (
      |    SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
      |      row_number() OVER (PARTITION BY c_mktsegment
      |        ORDER BY COUNT(*) DESC, c_nationkey ASC) AS rn
      |    FROM customer GROUP BY c_mktsegment, c_nationkey)
      |  WHERE rn = 1),
      |p AS (
      |  -- Every multiply operand is declared p>=19: DuckDB multiplies
      |  -- int64-backed (p<=18) decimals in int64 and range-checks against
      |  -- the narrow width, so squaring a (18,6) balance overflows; p>=19
      |  -- operands take the int128 path. Values are identical to the
      |  -- Spark side's (18,6)/(24,6) — only storage width differs.
      |  SELECT c_mktsegment, x1,
      |    CAST(x1 * x1 AS DECIMAL(19,6)) AS x2,
      |    CAST(CAST(x1 * x1 AS DECIMAL(19,6)) * x1 AS DECIMAL(19,6)) AS x3,
      |    CAST(CAST(x1 * x1 AS DECIMAL(19,6)) * CAST(x1 * x1 AS DECIMAL(19,6))
      |      AS DECIMAL(25,6)) AS x4
      |  FROM (SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(19,6)) AS x1
      |        FROM customer)),
      |s AS (
      |  SELECT c_mktsegment, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(x1) AS VARCHAR) AS DOUBLE) AS s1,
      |    CAST(CAST(SUM(x2) AS VARCHAR) AS DOUBLE) AS s2,
      |    CAST(CAST(SUM(x3) AS VARCHAR) AS DOUBLE) AS s3,
      |    CAST(CAST(SUM(x4) AS VARCHAR) AS DOUBLE) AS s4
      |  FROM p GROUP BY c_mktsegment)
      |SELECT s.c_mktsegment, CAST(n AS BIGINT) AS n_customers,
      |  ROUND(s1 / n, 6) AS mean_acctbal,
      |  ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
      |    / ((s2 / n - (s1 / n) * (s1 / n)) * sqrt(s2 / n - (s1 / n) * (s1 / n))), 6)
      |    AS skewness,
      |  ROUND((s4 / n - 4.0 * (s1 / n) * (s3 / n)
      |         + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
      |         - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
      |    / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6)
      |    AS kurtosis,
      |  modes.mode_nation, modes.mode_n
      |FROM s JOIN modes USING (c_mktsegment)""".stripMargin

  private val DayNs = 86400000000000L

  /** q127: rolling z-score anomaly screen — each (event_type, day)'s value
    * total scored against the trailing 7 CALENDAR days (mean/σ from exact
    * decimal window sums), flagging |z| ≥ 2 with ≥5 days of baseline. The
    * (type × day) grid is scaffolded over the corpus's full day span with
    * v=0 for event-free days, so a total outage is scored (and flags as a
    * deeply negative z) instead of being structurally invisible, and the
    * ROWS window genuinely means trailing days, not trailing
    * observations. The window partitions by event_type (bounded groups,
    * never a global sort); v² goes through `round(v*v, 6)` in DOUBLE
    * before the decimal window sum — a decimal×decimal spelling would
    * bind to different intermediate scales in the two engines (Spark caps
    * precision at 38 by shaving scale; DuckDB keeps it) and double-round
    * differently.
    */
  def qRollingAnomaly(s: SparkSession, dir: String): DataFrame = {
    import Relational.dsum
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts DIV $DayNs").as("day_idx"))
      .agg(dsum(col("value")).as("v"))
      .persist()
    val bounds = daily.agg(min(col("day_idx")).as("mn"), max(col("day_idx")).as("mx"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("day_idx"))
    val full = grid.join(daily, Seq("event_type", "day_idx"), "left")
      .na.fill(0.0, Seq("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rowsBetween(-7, -1)
    val scored = full
      .withColumn("n", count(lit(1)).over(w).cast("double"))
      .withColumn("s", sum(col("v").cast(DecimalType(18, 6))).over(w).cast("double"))
      .withColumn("ss",
        sum(round(col("v") * col("v"), 6).cast(DecimalType(28, 6))).over(w)
          .cast("double"))
      .withColumn("mean", col("s") / col("n"))
      .withColumn("variance", col("ss") / col("n") - col("mean") * col("mean"))
      .where(col("n") >= 5.0 && col("variance") > 0.0)
      .withColumn("z", (col("v") - col("mean")) / sqrt(col("variance")))
      .where(abs(col("z")) >= 2.0)
    scored.select(col("event_type"), col("day_idx"), col("v"),
      round(col("z"), 6).as("z"))
  }

  val qRollingAnomalySql: String = {
    import Relational.dsumSql
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DayNs AS day_idx,
       |    ${dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |bounds AS (SELECT MIN(day_idx) AS mn, MAX(day_idx) AS mx FROM daily),
       |grid AS (
       |  SELECT t.event_type, unnest(generate_series(bounds.mn, bounds.mx))
       |    AS day_idx
       |  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN bounds),
       |fullg AS (
       |  SELECT grid.event_type, grid.day_idx,
       |    COALESCE(daily.v, CAST(0 AS DOUBLE)) AS v
       |  FROM grid LEFT JOIN daily
       |    ON daily.event_type = grid.event_type
       |   AND daily.day_idx = grid.day_idx),
       |win AS (
       |  SELECT event_type, day_idx, v,
       |    CAST(COUNT(*) OVER w AS DOUBLE) AS n,
       |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS VARCHAR) AS DOUBLE) AS s,
       |    CAST(CAST(SUM(CAST(round(v * v, 6) AS DECIMAL(28,6))) OVER w AS VARCHAR)
       |      AS DOUBLE) AS ss
       |  FROM fullg
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
       |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
       |scored AS (
       |  SELECT event_type, day_idx, v,
       |    (v - s / n) / sqrt(ss / n - (s / n) * (s / n)) AS z
       |  FROM win
       |  WHERE n >= 5.0 AND ss / n - (s / n) * (s / n) > 0.0)
       |SELECT event_type, day_idx, v, ROUND(z, 6) AS z
       |FROM scored WHERE abs(z) >= 2.0""".stripMargin
  }

  /** q129: exact two-sample Kolmogorov–Smirnov drift — each source's
    * document-length distribution vs the rest of the corpus, D = max_l
    * |CDF_src(l) − CDF_rest(l)|. The CDFs live on the bounded length
    * domain (a histogram, not per-row ranks — THE trick that makes exact
    * KS distributed: cumsums are windows over ≤|length domain| rows
    * partitioned by source, never a global sort). The max runs on the
    * cross-multiplied integer form |A·n_rest − B·n_src| so no float
    * enters until the final division (at petabyte row counts the
    * products need DECIMAL(38,0); BIGINT holds to ~3·10⁹ docs/side).
    */
  def qKsDrift(s: SparkSession, dir: String): DataFrame = {
    // ONE scan + one shuffle builds the (source, length) histogram; the
    // marginals (per-length, per-source, grand total) all derive from
    // that bounded frame instead of re-scanning the corpus.
    val lens = t(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("l"))
    val bySrcLen = lens.groupBy(col("source"), col("l")).agg(count(lit(1)).as("c_sl"))
      .persist()
    val byLen = bySrcLen.groupBy(col("l")).agg(sum(col("c_sl")).as("c_l"))
    val nSrc = bySrcLen.groupBy(col("source")).agg(sum(col("c_sl")).as("n_src"))
    val nAll = bySrcLen.agg(sum(col("c_sl")).as("n_all"))
    val grid = nSrc.crossJoin(broadcast(byLen)) // sources × length domain
      .join(bySrcLen, Seq("source", "l"), "left")
      .na.fill(0L, Seq("c_sl"))
    val w = Window.partitionBy(col("source")).orderBy(col("l"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_s", sum(col("c_sl")).over(w))
      .withColumn("cum_all", sum(col("c_l")).over(w))
      .crossJoin(broadcast(nAll))
      .withColumn("d_num", abs(
        col("cum_s") * (col("n_all") - col("n_src")) -
          (col("cum_all") - col("cum_s")) * col("n_src")))
      .groupBy(col("source"), col("n_src"), col("n_all"))
      .agg(max(col("d_num")).as("max_d"))
      .select(col("source"), col("n_src").as("n_docs"),
        round(col("max_d").cast("double")
          / (col("n_src") * (col("n_all") - col("n_src"))).cast("double"), 6)
          .as("ks"))
  }

  val qKsDriftSql: String =
    """WITH lens AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS l
      |  FROM documents),
      |by_src_len AS (
      |  SELECT source, l, COUNT(*) AS c_sl FROM lens GROUP BY source, l),
      |by_len AS (
      |  SELECT l, CAST(SUM(c_sl) AS BIGINT) AS c_l FROM by_src_len GROUP BY l),
      |n_src AS (
      |  SELECT source, CAST(SUM(c_sl) AS BIGINT) AS n_src
      |  FROM by_src_len GROUP BY source),
      |n_all AS (SELECT CAST(SUM(c_sl) AS BIGINT) AS n_all FROM by_src_len),
      |grid AS (
      |  SELECT n_src.source, by_len.l, n_src.n_src, by_len.c_l,
      |    COALESCE(by_src_len.c_sl, 0) AS c_sl
      |  FROM n_src CROSS JOIN by_len
      |  LEFT JOIN by_src_len
      |    ON by_src_len.source = n_src.source AND by_src_len.l = by_len.l),
      |cums AS (
      |  SELECT source, n_src,
      |    SUM(c_sl) OVER w AS cum_s, SUM(c_l) OVER w AS cum_all
      |  FROM grid
      |  WINDOW w AS (PARTITION BY source ORDER BY l
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |d AS (
      |  SELECT source, n_src, n_all,
      |    abs(cum_s * (n_all - n_src) - (cum_all - cum_s) * n_src) AS d_num
      |  FROM cums CROSS JOIN n_all)
      |SELECT source, n_src AS n_docs,
      |  ROUND(CAST(MAX(d_num) AS DOUBLE)
      |        / CAST(n_src * (n_all - n_src) AS DOUBLE), 6) AS ks
      |FROM d GROUP BY source, n_src, n_all""".stripMargin

  /** q133: one-way ANOVA of document length across sources — does source
    * explain length variance? F = (SSB/(k−1)) / (SSW/(N−k)) plus the
    * effect size η². Lengths and their squares are INTEGERS, so the
    * per-source sufficient statistics (n_j, Σl, Σl²) are exact BIGINT
    * sums from one map-side-combinable aggregate; the F arithmetic then
    * runs on bit-identical doubles over the bounded per-source frame.
    */
  def qAnova(s: SparkSession, dir: String): DataFrame = {
    val lens = t(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("l"))
    val perSrc = lens.groupBy(col("source")).agg(
      count(lit(1)).as("n_j"), sum(col("l")).as("s_j"),
      sum(col("l") * col("l")).as("q_j"))
    perSrc.agg(
        count(lit(1)).cast("double").as("k"),
        sum(col("n_j")).cast("double").as("n"),
        sum(col("s_j")).cast("double").as("s"),
        sum(col("q_j")).cast("double").as("q"),
        // Σ s_j²/n_j: each term is a double from exact integers (same bits
        // both engines), rounded to 6dp before an exact decimal sum — a
        // raw float sum would be partition-order-dependent
        sum(round(col("s_j").cast("double") * col("s_j").cast("double")
          / col("n_j").cast("double"), 6).cast(DecimalType(28, 6)))
          .cast("double").as("b"))
      .select(
        col("k").cast("bigint").as("n_sources"),
        col("n").cast("bigint").as("n_docs"),
        round(((col("b") - col("s") * col("s") / col("n")) / (col("k") - lit(1.0)))
          / ((col("q") - col("b")) / (col("n") - col("k"))), 6).as("f_stat"),
        round((col("b") - col("s") * col("s") / col("n"))
          / (col("q") - col("s") * col("s") / col("n")), 6).as("eta_sq"))
  }

  val qAnovaSql: String =
    """WITH lens AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS l
      |  FROM documents),
      |per_src AS (
      |  SELECT source, COUNT(*) AS n_j, SUM(l) AS s_j, SUM(l * l) AS q_j
      |  FROM lens GROUP BY source),
      |a AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS k,
      |    CAST(CAST(SUM(n_j) AS VARCHAR) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(s_j) AS VARCHAR) AS DOUBLE) AS s,
      |    CAST(CAST(SUM(q_j) AS VARCHAR) AS DOUBLE) AS q,
      |    CAST(CAST(SUM(CAST(round(CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE)
      |      / CAST(n_j AS DOUBLE), 6) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS b
      |  FROM per_src)
      |SELECT CAST(k AS BIGINT) AS n_sources, CAST(n AS BIGINT) AS n_docs,
      |  ROUND(((b - s * s / n) / (k - 1.0)) / ((q - b) / (n - k)), 6) AS f_stat,
      |  ROUND((b - s * s / n) / (q - s * s / n), 6) AS eta_sq
      |FROM a""".stripMargin

  /** q149: exact trimmed mean — per event type, the mean of `value`
    * with the lowest and highest 5% of observations (by exact rank)
    * removed, next to the untrimmed mean. The robust-location statistic
    * that q113's median+MAD family lacks: it answers "how much do the
    * tails move my mean", the outlier-damage gauge for reward / metric
    * columns before training on them.
    *
    * Scale shape: one shuffle on event_type (bounded groups), a
    * per-partition rank window with a unique (value, event_id)
    * tiebreak, then one aggregate over the same partitioning — the
    * second window pass reuses the first's exchange. Trim bounds are
    * integer arithmetic (n*5 DIV 100), never a float percentile; sums
    * accumulate as decimal.
    */
  def qTrimmedMean(s: SparkSession, dir: String): DataFrame = {
    import Relational.dsum
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("cut", expr("n * 5 DIV 100"))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        round(dsum(col("value")) / count(lit(1)), 6).as("mean_v"),
        round(
          sum(when(col("rk") > col("cut") && col("rk") <= col("n") - col("cut"),
            col("value").cast(DecimalType(18, 6)))).cast("double")
            / sum(when(col("rk") > col("cut") && col("rk") <= col("n") - col("cut"),
              1L).otherwise(0L)),
          6).as("trimmed_mean"))
  }

  val qTrimmedMeanSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value ASC, event_id ASC) AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |c AS (SELECT *, n * 5 // 100 AS cut FROM r)
      |SELECT event_type, MAX(n) AS n,
      |  ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |        / COUNT(*), 6) AS mean_v,
      |  ROUND(CAST(CAST(SUM(CASE WHEN rk > cut AND rk <= n - cut
      |                THEN CAST(value AS DECIMAL(18,6)) END) AS VARCHAR) AS DOUBLE)
      |        / SUM(CASE WHEN rk > cut AND rk <= n - cut THEN 1 ELSE 0 END),
      |    6) AS trimmed_mean
      |FROM c GROUP BY event_type""".stripMargin

  /** q159: exact winsorized mean — q149's trimmed mean DROPS the tail
    * 5%; winsorizing CLAMPS it to the 5th/95th boundary values instead,
    * the robust-location choice when sample size must stay fixed (per-
    * group means feeding a weighted downstream average). lo/hi are the
    * exact boundary order statistics by integer rank, never a float
    * percentile.
    *
    * Scale shape: identical to q149 — one shuffle on event_type, rank
    * window with a unique tiebreak, aggregate reusing the exchange. The
    * clamped sum needs no second pass: winsorized Σ = Σ(middle) +
    * cut·lo + cut·hi, all in exact decimal; the boundary values come
    * from the same aggregate via rank-match.
    */
  def qWinsorizedMean(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("cut", expr("n * 5 DIV 100"))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(col("cut")).as("cut_n"),
        max(when(col("rk") === col("cut") + 1, col("value"))).as("lo"),
        max(when(col("rk") === col("n") - col("cut"), col("value"))).as("hi"),
        sum(when(col("rk") > col("cut") && col("rk") <= col("n") - col("cut"),
          col("value").cast(DecimalType(18, 6)))).as("s_mid"))
      .select(col("event_type"), col("n"), col("cut_n").as("cut"),
        col("lo"), col("hi"),
        round((col("s_mid")
            + col("cut_n") * col("lo").cast(DecimalType(19, 6))
            + col("cut_n") * col("hi").cast(DecimalType(19, 6))).cast("double")
          / col("n"), 6).as("winsor_mean"))
  }

  val qWinsorizedMeanSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value ASC, event_id ASC) AS rk,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |c AS (SELECT *, n * 5 // 100 AS cut FROM r)
      |SELECT event_type, MAX(n) AS n, MAX(cut) AS cut,
      |  MAX(CASE WHEN rk = cut + 1 THEN value END) AS lo,
      |  MAX(CASE WHEN rk = n - cut THEN value END) AS hi,
      |  ROUND(CAST(CAST(
      |      SUM(CASE WHEN rk > cut AND rk <= n - cut
      |            THEN CAST(value AS DECIMAL(18,6)) END)
      |      + MAX(cut) * MAX(CASE WHEN rk = cut + 1
      |            THEN CAST(value AS DECIMAL(19,6)) END)
      |      + MAX(cut) * MAX(CASE WHEN rk = n - cut
      |            THEN CAST(value AS DECIMAL(19,6)) END)
      |    AS VARCHAR) AS DOUBLE) / MAX(n), 6) AS winsor_mean
      |FROM c GROUP BY event_type""".stripMargin

  /** q151: event-type co-occurrence lift — for every unordered pair of
    * event types, how much more (or less) often users fire both than
    * independence predicts: lift = n_ab·n_users / (n_a·n_b) over the
    * per-user distinct-type sets. The market-basket association measure
    * behind "users who do X also do Y", and a drift screen for product
    * funnels. Numerator/denominator are exact integers; the single
    * division is one IEEE op.
    *
    * Scale shape: one shuffle to distinct (user, type) — per-user
    * fanout is bounded by the type-domain size (5), so the self-join on
    * user_id expands each user to ≤ C(5,2) pair rows, never a blowup;
    * type marginals are a bounded broadcast.
    */
  def qTypeAffinity(s: SparkSession, dir: String): DataFrame = {
    // r21 (the q02/q12 spread-before-the-fused-CPU move, guide §2.5):
    // the distinct's partial dedup fused into the 1-split events scan
    // and deduped all 100k rows in ONE serial task (plan: partial
    // HashAggregate below the 234 KB exchange, 1-task map). Repartition
    // on user_id below the distinct instead: the raw 3.1 MB spread is
    // cheap, the dedup runs 32-way above it (user_id is a subset of the
    // distinct's clustering, so no second exchange appears), and the
    // cache keeps the user_id partitioning for the self-join. A/B same
    // window at sf0.1: 0.57/0.55 → 0.38/0.40 s (OPTIMIZATION_r21.md, exceptAll = 0
    // both directions).
    val ut = t(s, dir, "events")
      .select(col("user_id"), col("event_type"))
      .repartition(col("user_id"))
      .distinct().persist()
    val nUsers = ut.select(countDistinct(col("user_id")).as("n_users"))
    val marg = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("n_t").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("n_t").as("n_b"))),
        Seq("type_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        round((col("n_ab") * col("n_users")).cast("double")
          / (col("n_a") * col("n_b")), 6).as("lift"))
  }

  val qTypeAffinitySql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
      |marg AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_ab
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, ma.n_t AS n_a, mb.n_t AS n_b, p.n_ab,
      |  ROUND(CAST(p.n_ab * nu.n_users AS DOUBLE) / (ma.n_t * mb.n_t), 6) AS lift
      |FROM pairs p
      |JOIN marg ma ON ma.event_type = p.type_a
      |JOIN marg mb ON mb.event_type = p.type_b
      |CROSS JOIN nu""".stripMargin

  /** q163: exact ROC AUC of a numeric score against a binary label —
    * here document length (n_chars) as a predictor of lang='en', the
    * shape of every "does my cheap quality score actually separate the
    * classes" audit before a filter threshold goes into a pipeline.
    * AUC is computed by the rank-free histogram identity
    * AUC = Σ_s pos_s·(2·cum_neg_{<s} + neg_s) / (2·n_pos·n_neg),
    * which handles ties exactly (a tied pair contributes ½) and never
    * ranks individual rows.
    *
    * Scale shape: THE distributed-AUC trick — one map-side-combinable
    * aggregate builds the per-score histogram, and every window/sum
    * after that runs on ≤ |score domain| rows, not |corpus| rows. The
    * cumulative window is single-partition but its input is the bounded
    * histogram (continuous scores get bucketed first at 100 TB; integer
    * n_chars IS the bucket). All arithmetic is exact BIGINT until the
    * single final division.
    */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "documents")
      .groupBy(col("n_chars").as("score"))
      .agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("neg"))
    // bounded-domain cumulative: negatives strictly below this score
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("cum_neg", coalesce(sum(col("neg")).over(w), lit(0L)))
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum_neg") + col("neg"))).as("num"))
      .select(
        col("n_pos"), col("n_neg"),
        round(col("num").cast("double")
          / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"),
        round(col("num").cast("double")
          / (col("n_pos") * col("n_neg")).cast("double") - lit(1.0), 6).as("gini"))
  }

  val qAucSql: String =
    """WITH h AS (
      |  SELECT n_chars AS score,
      |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos,
      |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS neg
      |  FROM documents GROUP BY n_chars),
      |c AS (
      |  SELECT pos, neg,
      |    COALESCE(SUM(neg) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
      |  FROM h),
      |a AS (
      |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(neg) AS BIGINT) AS n_neg,
      |    CAST(SUM(pos * (2 * cum_neg + neg)) AS BIGINT) AS num
      |  FROM c)
      |SELECT n_pos, n_neg,
      |  ROUND(CAST(num AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc,
      |  ROUND(CAST(num AS DOUBLE) / CAST(n_pos * n_neg AS DOUBLE) - 1.0, 6) AS gini
      |FROM a""".stripMargin

  // ------------------------------------------------------------ grouped median

  /** Exact per-group median over the VALUE DOMAIN. Input is the
    * pre-aggregated (group, v, c) count frame — the only corpus-touching
    * pass is that map-side-combinable aggregate; the cumulative-rank
    * window then runs over the per-group DISTINCT-VALUE frame (partition
    * size = value-domain cardinality, not row count — the bounded-domain
    * analogue of q18's histogram selection). Interpolation at even n
    * uses the same `(ceil(pos)-pos)*lo + (pos-floor(pos))*hi` IEEE
    * spelling as [[Analytics.exactQuantilesByHistogram]], so the
    * [[groupedMedianSql]] mirror is bit-identical.
    */
  def groupedMedian(counts: DataFrame, group: String, out: String): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col(group))))
      .withColumn("pos", (col("n") - 1).cast("double") * lit(0.5))
      .withColumn("rf", floor(col("pos")))
      .withColumn("rc", ceil(col("pos")))
    cum.groupBy(col(group), col("pos"))
      .agg(
        min(when(col("rf").between(col("cum") - col("c"), col("cum") - 1), col("v"))).as("lo"),
        min(when(col("rc").between(col("cum") - col("c"), col("cum") - 1), col("v"))).as("hi"))
      .select(col(group),
        when(floor(col("pos")) === ceil(col("pos")), col("lo"))
          .otherwise((ceil(col("pos")).cast("double") - col("pos")) * col("lo")
            + (col("pos") - floor(col("pos")).cast("double")) * col("hi")).as(out))
  }

  /** DuckDB mirror of [[groupedMedian]] as a derived relation: `rel` must
    * expose columns (`group`, v); yields rows (`group`, `out`). Spelled
    * with the identical cumulative-rank + interpolation arithmetic so
    * doubles match bit-for-bit.
    */
  def groupedMedianSql(rel: String, group: String, out: String): String =
    s"""(
       |  SELECT g AS $group,
       |    CASE WHEN FLOOR(pos) = CEIL(pos) THEN lo
       |         ELSE (CEIL(pos) - pos) * lo + (pos - FLOOR(pos)) * hi END AS $out
       |  FROM (
       |    SELECT g, pos,
       |      MIN(CASE WHEN rf BETWEEN cum - c AND cum - 1 THEN v END) AS lo,
       |      MIN(CASE WHEN rc BETWEEN cum - c AND cum - 1 THEN v END) AS hi
       |    FROM (
       |      SELECT g, v, c, cum, CAST(n - 1 AS DOUBLE) * 0.5 AS pos,
       |        CAST(FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS rf,
       |        CAST(CEIL(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) AS rc
       |      FROM (
       |        SELECT g, v, c,
       |          SUM(c) OVER (PARTITION BY g ORDER BY v
       |            ROWS UNBOUNDED PRECEDING) AS cum,
       |          SUM(c) OVER (PARTITION BY g) AS n
       |        FROM (SELECT $group AS g, v, COUNT(*) AS c FROM $rel GROUP BY 1, 2)))
       |    GROUP BY 1, 2))""".stripMargin

  // ---------------------------------------------------------------- q170

  /** q170: Benford first-digit screen on order totals — per leading
    * digit: count, observed share, the Benford expectation log10(1+1/d),
    * and the chi-square contribution. The classic synthetic-data /
    * fraud / unit-mixup detector for any positive heavy-tailed measure.
    *
    * The digit is extracted through the BIGINT string of floor(x) —
    * integer formatting is identical across engines, where float
    * formatting and log10 (libm-dependent) are not; expectations are
    * shared 6-decimal literals. Row-local map + 9-key aggregate: the
    * 100 TB cost is one scan.
    */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val expected = Seq(
      (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
      (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
      (9, 0.045757)).toDF("digit", "expected")
    val c = t(s, dir, "orders").where(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = c.agg(sum(col("n")).as("total"))
    val share = col("n").cast("double") / col("total").cast("double")
    c.crossJoin(broadcast(tot)).join(broadcast(expected), Seq("digit"))
      .select(col("digit"), col("n"),
        round(share, 6).as("share"), col("expected"),
        round((share - col("expected")) * (share - col("expected"))
          / col("expected"), 6).as("chi2_term"))
  }

  val qBenfordSql: String =
    """WITH d AS (
      |  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
      |    1, 1) AS INTEGER) AS digit
      |  FROM orders WHERE o_totalprice >= 1.0),
      |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      |e(digit, expected) AS (VALUES
      |  (1, CAST(0.301030 AS DOUBLE)), (2, CAST(0.176091 AS DOUBLE)),
      |  (3, CAST(0.124939 AS DOUBLE)), (4, CAST(0.096910 AS DOUBLE)),
      |  (5, CAST(0.079181 AS DOUBLE)), (6, CAST(0.066947 AS DOUBLE)),
      |  (7, CAST(0.057992 AS DOUBLE)), (8, CAST(0.051153 AS DOUBLE)),
      |  (9, CAST(0.045757 AS DOUBLE)))
      |SELECT c.digit, c.n,
      |  ROUND(CAST(c.n AS DOUBLE) / CAST(tt.total AS DOUBLE), 6) AS share,
      |  e.expected,
      |  ROUND((CAST(c.n AS DOUBLE) / CAST(tt.total AS DOUBLE) - e.expected)
      |      * (CAST(c.n AS DOUBLE) / CAST(tt.total AS DOUBLE) - e.expected)
      |      / e.expected, 6) AS chi2_term
      |FROM c JOIN e USING (digit) CROSS JOIN tt""".stripMargin

  // ---------------------------------------------------------------- q171

  /** q171: Mann–Whitney U (rank-sum) drift test between the even- and
    * odd-doc_id halves of the corpus on document length — the
    * nonparametric complement to q129's KS: sensitive to location shift,
    * robust to outliers, exact under heavy ties via average ranks and
    * the tie-corrected normal approximation.
    *
    * Scale shape: one (value → group-count) aggregate over the corpus
    * (map-side combinable), then every window/Σ runs on the
    * DISTINCT-VALUE frame — bounded by the length domain, not rows.
    * Rank products are exact multiples of 0.5, so the Σ accumulates in
    * DECIMAL(28,1) (order-free); the closed-form z runs on identical
    * doubles in both engines.
    */
  def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      (col("doc_id") % 2 === 0).as("is_a"), col("n_chars").cast("double").as("v"))
    val counts = d.groupBy(col("v")).agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = counts
      .withColumn("t", col("ca") + col("cb"))
      .withColumn("less", coalesce(sum(col("t")).over(w), lit(0L)))
      .withColumn("avg_rank",
        col("less").cast("double") + (col("t") + 1L).cast("double") * lit(0.5))
    val a = ranked.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      sum((col("ca").cast("double") * col("avg_rank"))
        .cast(DecimalType(28, 1))).cast("double").as("ra"),
      // t cast to double BEFORE cubing: a hot tied value (t > ~2.1M,
      // plausible at 100 TB) would silently wrap t³ on Long; as exact
      // integer-valued doubles the sum stays order-independent below 2⁵³.
      sum(col("t").cast("double") * col("t") * col("t") - col("t")).as("ties"))
    val na = col("na").cast("double")
    val nb = col("nb").cast("double")
    val nn = na + nb
    val u = col("ra") - na * (na + lit(1.0)) * lit(0.5)
    val mean = na * nb * lit(0.5)
    val variance = na * nb / lit(12.0) *
      ((nn + lit(1.0)) - col("ties").cast("double") / (nn * (nn - lit(1.0))))
    a.select(
      col("na").cast("bigint").as("n_a"), col("nb").cast("bigint").as("n_b"),
      u.as("u_a"),
      round(u / (na * nb), 6).as("auc_ab"),
      round((u - mean) / sqrt(variance), 6).as("z"))
  }

  val qMannWhitneySql: String =
    """WITH d AS (
      |  SELECT (doc_id % 2 = 0) AS is_a, CAST(n_chars AS DOUBLE) AS v
      |  FROM documents),
      |c AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
      |  FROM d GROUP BY v),
      |r AS (
      |  SELECT ca, cb, ca + cb AS t,
      |    COALESCE(SUM(ca + cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
      |  FROM c),
      |a AS (
      |  SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb,
      |    CAST(CAST(SUM(CAST(CAST(ca AS DOUBLE) *
      |      (CAST(less AS DOUBLE) + CAST(t + 1 AS DOUBLE) * 0.5)
      |      AS DECIMAL(28,1))) AS VARCHAR) AS DOUBLE) AS ra,
      |    SUM(CAST(t AS DOUBLE) * t * t - t) AS ties
      |  FROM r)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ra - na * (na + 1.0) * 0.5 AS u_a,
      |  ROUND((ra - na * (na + 1.0) * 0.5) / (na * nb), 6) AS auc_ab,
      |  ROUND((ra - na * (na + 1.0) * 0.5 - na * nb * 0.5)
      |    / SQRT(na * nb / 12.0 * ((na + nb + 1.0)
      |        - ties / ((na + nb) * (na + nb - 1.0)))), 6) AS z
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q174

  /** q174: Theil–Sen robust slope of monthly revenue per order priority —
    * the median of all pairwise month-to-month slopes, immune to the
    * outlier months that drag q124's OLS. The robust-regression member
    * of the trend family.
    *
    * Scale shape: the corpus collapses to (priority × month) — a
    * DOMAIN-bounded frame — in one map-side-combinable aggregate; the
    * pairwise self-join (≤ months²/2 per priority) and the
    * [[groupedMedian]] cumulative window never touch corpus-sized data.
    */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    import Relational.dsum
    val m = t(s, dir, "orders").groupBy(
        col("o_orderpriority").as("priority"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("x"))
      .agg(dsum(col("o_totalprice")).as("y"))
      .persist()
    val pairs = m.as("a").join(m.as("b"),
        col("a.priority") === col("b.priority") && col("a.x") < col("b.x"))
      .select(col("a.priority").as("priority"),
        ((col("b.y") - col("a.y"))
          / (col("b.x") - col("a.x")).cast("double")).as("v"))
    val counts = pairs.groupBy(col("priority"), col("v"))
      .agg(count(lit(1)).as("c"))
    groupedMedian(counts, "priority", "slope")
      .select(col("priority"), round(col("slope"), 6).as("theil_sen_slope"))
  }

  val qTheilSenSql: String = {
    import Relational.dsumSql
    s"""WITH mrev AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
       |    ${dsumSql("o_totalprice")} AS y
       |  FROM orders GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.priority AS priority,
       |    (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS v
       |  FROM mrev a JOIN mrev b
       |    ON a.priority = b.priority AND a.x < b.x)
       |SELECT priority, ROUND(slope, 6) AS theil_sen_slope
       |FROM ${groupedMedianSql("pairs", "priority", "slope")}""".stripMargin
  }

  // ---------------------------------------------------------------- q176

  /** q176: robust outlier screen per market segment — median account
    * balance, MAD (median absolute deviation), and the count of
    * customers beyond 3·1.4826·MAD (the Gaussian-consistent robust
    * z-screen). The robust counterpart to q127's mean/stddev anomaly
    * band, immune to the outliers it hunts.
    *
    * Scale shape: two [[groupedMedian]] passes (balances, then absolute
    * deviations) — each one corpus aggregate + a value-domain-bounded
    * window (2-decimal balances ⇒ ≤ ~1.1M distinct values regardless of
    * row count) — plus a broadcast of the 5-row median/MAD frames.
    */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(
      col("c_mktsegment").as("seg"), col("c_acctbal").cast("double").as("v"))
    val med = groupedMedian(
      c.groupBy(col("seg"), col("v")).agg(count(lit(1)).as("c")), "seg", "med")
    val dev = c.join(broadcast(med), Seq("seg"))
    val mad = groupedMedian(
      dev.select(col("seg"), abs(col("v") - col("med")).as("v"))
        .groupBy(col("seg"), col("v")).agg(count(lit(1)).as("c")), "seg", "mad")
    dev.join(broadcast(mad), Seq("seg"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_customers"),
        round(min(col("med")), 6).as("median_bal"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(abs(col("v") - col("med"))
          > lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  val qMadOutliersSql: String = {
    val medRel = groupedMedianSql(
      "(SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS v FROM customer)",
      "seg", "med")
    s"""WITH med AS (SELECT * FROM $medRel),
       |dev AS (
       |  SELECT c.c_mktsegment AS seg, CAST(c.c_acctbal AS DOUBLE) AS v, m.med
       |  FROM customer c JOIN med m ON m.seg = c.c_mktsegment),
       |mad AS (SELECT * FROM ${groupedMedianSql(
             "(SELECT seg, ABS(v - med) AS v FROM dev)", "seg", "mad")})
       |SELECT dev.seg, COUNT(*) AS n_customers,
       |  ROUND(MIN(dev.med), 6) AS median_bal,
       |  ROUND(MIN(mad.mad), 6) AS mad,
       |  CAST(SUM(CASE WHEN ABS(dev.v - dev.med)
       |    > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad.mad
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM dev JOIN mad ON mad.seg = dev.seg
       |GROUP BY dev.seg""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q170_benford" -> (qBenford _),
    "q171_mann_whitney" -> (qMannWhitney _),
    "q174_theil_sen" -> (qTheilSen _),
    "q176_mad_outliers" -> (qMadOutliers _),
    "q163_auc" -> (qAuc _),
    "q149_trimmed_mean" -> (qTrimmedMean _),
    "q159_winsorized_mean" -> (qWinsorizedMean _),
    "q151_type_affinity" -> (qTypeAffinity _),
    "q124_group_ols" -> (qGroupOls _),
    "q125_mode_moments" -> (qModeMoments _),
    "q127_rolling_anomaly" -> (qRollingAnomaly _),
    "q129_ks_drift" -> (qKsDrift _),
    "q133_anova" -> (qAnova _))

  val oracle: Map[String, String] = Map(
    "q170_benford" -> qBenfordSql,
    "q171_mann_whitney" -> qMannWhitneySql,
    "q174_theil_sen" -> qTheilSenSql,
    "q176_mad_outliers" -> qMadOutliersSql,
    "q163_auc" -> qAucSql,
    "q149_trimmed_mean" -> qTrimmedMeanSql,
    "q159_winsorized_mean" -> qWinsorizedMeanSql,
    "q151_type_affinity" -> qTypeAffinitySql,
    "q124_group_ols" -> qGroupOlsSql,
    "q125_mode_moments" -> qModeMomentsSql,
    "q127_rolling_anomaly" -> qRollingAnomalySql,
    "q129_ks_drift" -> qKsDriftSql,
    "q133_anova" -> qAnovaSql)
}
