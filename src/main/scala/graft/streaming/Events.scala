package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Relational.{dsum, dsumSql}

/** Event-stream analytics over the `events` table (batch forms; the
  * streaming execution of the same logic is exercised in StreamingSpec with
  * readStream + Trigger.AvailableNow).
  *
  * Timestamps: events.ts is nanos-since-epoch (read as long, see
  * Session nanosAsLong); all oracle-compared boundaries are epoch
  * milliseconds so engine-specific timestamp precision never leaks into the
  * comparison.
  */
object Events {

  private val NsPerHour = 3600L * 1000 * 1000 * 1000

  /** Hourly tumbling-window rollup per event type — the batch shape of a
    * windowed streaming aggregation (StreamingSpec runs the same function
    * under readStream). Bucket key = epoch-ms of the hour start.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        (expr(s"ts DIV $NsPerHour") * 3600000L).as("hour_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  def qEventHourly(s: SparkSession, dir: String): DataFrame =
    hourlyAgg(Tables.load(s, dir, "events"))

  val qEventHourlySql: String =
    s"""SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_ms,
       |  event_type, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  /** Sessionization: per-user sessions with a 30-minute inactivity gap,
    * via `session_window` (the streaming-native session operator, usable
    * identically under readStream with a watermark). Session identity is
    * reported as epoch-ms of the first event so the oracle (a
    * gaps-and-islands rewrite) compares exactly.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        (unix_micros(max(col("ts_utc"))) - unix_micros(min(col("ts_utc")))).as("dur_us"))
      .select(
        col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"), col("sum_value"), col("dur_us"))

  val qSessionizeSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, value,
       |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
       |      (PARTITION BY user_id ORDER BY epoch_us(ts)) >= 1800000000
       |      THEN 1 ELSE 0 END AS new_session
       |  FROM events),
       |s AS (
       |  SELECT *, SUM(new_session) OVER
       |    (PARTITION BY user_id ORDER BY us
       |     ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM e)
       |SELECT user_id, MIN(us) AS session_start_us,
       |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value,
       |  MAX(us) - MIN(us) AS dur_us
       |FROM s GROUP BY user_id, session_id""".stripMargin

  /** Watermarked tumbling-window aggregation — the production streaming
    * shape: with `withWatermark` + append mode, a window emits exactly once,
    * after the watermark passes its end, and state for closed windows is
    * dropped (bounded state at 100 TB/day event volumes). Requires the
    * derived `ts_utc` event-time column (Tables.events).
    */
  def hourlyWithWatermark(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts_utc", delay)
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("hour_start_us"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drop re-delivered events by id across
    * micro-batches (state-backed under readStream; plain dropDuplicates in
    * batch). The streaming-pipeline half of the dedup story — at-least-once
    * sources become exactly-once facts.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Stream-stream interval self-join: per-user event pairs within a
    * 5-minute band (the streaming execution of the q57 range-join shape,
    * [[graft.operators.Temporal.qRangeJoin]]). Watermarks on BOTH sides
    * plus the time-range join condition let Spark evict join state older
    * than watermark − band — bounded state at any volume. Works
    * identically on batch DataFrames (watermark is a no-op there).
    */
  def pairsWithinBand(a: DataFrame, b: DataFrame): DataFrame = {
    val x = a.select(col("user_id").as("user_a"), col("ts_utc").as("t_a"),
      col("event_type").as("type_a")).withWatermark("t_a", "10 minutes")
    val y = b.select(col("user_id").as("user_b"), col("ts_utc").as("t_b"),
      col("event_type").as("type_b")).withWatermark("t_b", "10 minutes")
    x.join(y,
      col("user_a") === col("user_b") &&
        col("t_b") > col("t_a") &&
        col("t_b") <= col("t_a") + expr("INTERVAL 5 MINUTES"))
  }

  final case class UserRunningTotals(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom streaming state (flatMapGroupsWithState): per-user running
    * totals carried across micro-batches — the arbitrary-state shape that
    * windowed aggregation can't express (emits the running value every
    * batch, keeps state forever until timeout policy says otherwise).
    */
  def runningUserTotals(events: DataFrame): org.apache.spark.sql.Dataset[UserRunningTotals] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunningTotals, UserRunningTotals](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunningTotals]) =>
          val prev = state.getOption.getOrElse(UserRunningTotals(uid, 0L, 0d))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { case (_, v) => n += 1; s += v }
          val next = UserRunningTotals(uid, n, s)
          state.update(next)
          Iterator(next)
      }
  }

  final case class TypePercentiles(
      event_type: String, n: Long, p50: Double, p95: Double, p99: Double)

  /** Streaming percentile monitoring: per event type, the count and a
    * built-in KLL sketch (`kll_sketch_agg_double`, k = 256) over every
    * value seen so far, read out as p50/p95/p99. On a stream it is a plain
    * streaming aggregation: the state store holds one O(k log n)-byte
    * sketch per key, and in update mode each micro-batch emits the keys it
    * touched. On a batch frame it is the same aggregation over the whole
    * input. Below k values per key the sketch keeps every item, so the
    * estimates are the exact inclusive-rank quantiles; above k its
    * compaction is randomized and they vary within the rank-error bound.
    */
  def runningValuePercentiles(events: DataFrame)
      : org.apache.spark.sql.Dataset[TypePercentiles] = {
    import events.sparkSession.implicits._
    val q = kll_sketch_get_quantile_double(col("sketch"), lit(Array(0.5, 0.95, 0.99)))
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), kll_sketch_agg_double(col("value"), 256).as("sketch"))
      .select(col("event_type"), col("n"), q(0).as("p50"), q(1).as("p95"), q(2).as("p99"))
      .as[TypePercentiles]
  }

  final case class DebouncedEvent(
      event_id: Long, user_id: Long, event_type: String, ts: Long)

  /** Streaming twin of [[graft.operators.Temporal.qDebounce]]: drop events
    * <5 min after the previous raw event of their (user, type) key, with
    * the anchor carried ACROSS micro-batches as flatMapGroupsWithState
    * state (one long per live key — the minimum any debouncer must hold).
    * Within a batch, rows process in (ts, event_id) order so re-ordered
    * arrivals inside a micro-batch debounce identically to the batch
    * operator; StreamingSpec asserts exact parity per event id. A
    * production deployment adds an event-time timeout so idle keys age
    * out of the store; NoTimeout here keeps parity exact.
    */
  def debounceStream(events: DataFrame,
      gapNs: Long = graft.operators.Temporal.DebounceNs)
      : org.apache.spark.sql.Dataset[DebouncedEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.selectExpr("event_id", "user_id", "event_type", "ts")
      .as[(Long, Long, String, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, DebouncedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), rows: Iterator[(Long, Long, String, Long)],
            state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(r => (r._4, r._1))
          var last = state.getOption.getOrElse(Long.MinValue)
          val kept = sorted.flatMap { case (eid, uid, et, ts) =>
            val keep = last == Long.MinValue || ts - last >= gapNs
            last = ts // previous-RAW-event anchor, same as the batch rule
            if (keep) Some(DebouncedEvent(eid, uid, et, ts)) else None
          }
          if (last != Long.MinValue) state.update(last)
          kept.iterator
      }
  }

  private val NsPerWeek = 7L * 24 * 3600 * 1000 * 1000 * 1000
  private val MsPerWeek = 7L * 24 * 3600 * 1000

  /** Weekly retention cohorts: each user joins the cohort of their first
    * active epoch-week; the matrix counts users active k weeks after their
    * cohort week — the engagement-retention shape every event pipeline
    * reports. Two hash aggregations (per-user first week, distinct
    * user-weeks) and one join on user_id; distinct-user counts per cell
    * come free because the activity frame is already (user, week)-distinct.
    * Scale: everything keys on user_id or (cohort, offset) — partial aggs,
    * no windows, no skew (cells are bounded by weeks², users shard evenly).
    */
  def qRetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val wk = Tables.load(s, dir, "events")
      .select(col("user_id"), expr(s"ts DIV $NsPerWeek").as("wk"))
    val firstWk = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
    val active = wk.distinct()
    active.join(firstWk, Seq("user_id"))
      .groupBy((col("cwk") * MsPerWeek).as("cohort_week_ms"),
        (col("wk") - col("cwk")).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val qRetentionCohortsSql: String =
    s"""WITH wkk AS (
       |  SELECT user_id, epoch_ms(ts) // $MsPerWeek AS wk FROM events),
       |u AS (SELECT user_id, MIN(wk) AS cwk FROM wkk GROUP BY user_id),
       |a AS (SELECT DISTINCT user_id, wk FROM wkk)
       |SELECT CAST(u.cwk * $MsPerWeek AS BIGINT) AS cohort_week_ms,
       |  CAST(a.wk - u.cwk AS INTEGER) AS week_offset,
       |  COUNT(*) AS n_users
       |FROM a JOIN u USING (user_id)
       |GROUP BY 1, 2""".stripMargin

  /** q141: watermark-lateness audit — the batch analysis that SIZES a
    * streaming deployment's watermark delay: treating event_id as arrival
    * order, lateness = (running max event-time at arrival) − event-time.
    * Reports, per type, how many events a 1-minute and a 1-hour
    * watermark would drop, plus the worst lateness observed. Per-type
    * running max (partitioned window over arrival order) models per-key
    * watermarking; all outputs are integer-exact counts/max — no
    * unbounded percentile state.
    */
  def qLatenessAudit(s: SparkSession, dir: String): DataFrame = {
    val minUs = 60L * 1000 * 1000
    val hourUs = 3600L * 1000 * 1000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("ts DIV 1000").as("us"))
      .withColumn("late_us", max(col("us")).over(w) - col("us"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > minUs, 1L).otherwise(0L)).as("n_late_1m"),
        sum(when(col("late_us") > hourUs, 1L).otherwise(0L)).as("n_late_1h"),
        max(col("late_us")).as("max_late_us"))
  }

  val qLatenessAuditSql: String =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
      |l AS (
      |  SELECT event_type,
      |    MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us AS late_us
      |  FROM e)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late_1m,
      |  CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late_1h,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM l GROUP BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_event_hourly" -> (qEventHourly _),
    "q33_sessionize" -> (qSessionize _),
    "q88_retention_cohorts" -> (qRetentionCohorts _),
    "q141_lateness_audit" -> (qLatenessAudit _))

  val oracle: Map[String, String] = Map(
    "q32_event_hourly" -> qEventHourlySql,
    "q33_sessionize" -> qSessionizeSql,
    "q88_retention_cohorts" -> qRetentionCohortsSql,
    "q141_lateness_audit" -> qLatenessAuditSql)
}
