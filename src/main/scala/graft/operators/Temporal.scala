package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Temporal joins — the two canonical operators an event lake needs that
  * plain equi-joins can't express:
  *
  *  - RANGE join: pairs on an equality key within a time band. Spark
  *    executes equi-key + range-predicate as a single shuffle on the key
  *    with the band as a join filter — per-key density bounds the output,
  *    never a cartesian.
  *  - AS-OF join: each probe row matched to the latest build row at or
  *    before it. Implemented as the UNION + forward-fill window — one
  *    shuffle on the key, state bounded per key, NO join explosion — the
  *    shape that survives 100 TB event volumes (an equi-join + max-per-key
  *    re-join touches every candidate pair; this touches each row once).
  *
  * Time axis: epoch NANOS as long on both engines (events.ts is already
  * nanos-as-long, see graft.Session; order timestamps convert via
  * unix_micros * 1000) so no engine timestamp precision leaks into the
  * oracle comparison.
  */
object Temporal {

  private val BandNs = 300L * 1000 * 1000 * 1000 // 5 minutes

  /** Per-user event pairs within 5 minutes (strictly later), rolled up to
    * ordered type-pair counts.
    *
    * Window range-frame spelling (r13 rewrite): the pair COUNT per
    * (type_a, type_b) never needs the pairs materialized — for each
    * event, the number of same-user successors of type t in
    * `(ts, ts+Band]` is a conditional count over a
    * `rangeBetween(1, BandNs)` frame (strict `>` via the +1 lower
    * bound; ties on ts are whole-value in a range frame so equal
    * timestamps are correctly excluded/included by value, not row
    * position). One count column per event type — the type domain is
    * bounded and discovered by a column-pruned distinct pass (the same
    * contract `pivot` uses) — then a 5-key rollup per type_a and a
    * `stack` unpivot. vs the r12 band-bucketed self-join this is ONE
    * shuffle of n rows (not 3n), no join build/probe, and no candidate
    * materialization at all: 2.12 → 0.76 s at 10× events
    * (BASELINE.md, row-set-identical cross-check). Spark's
    * sliding range frame moves both bounds monotonically — O(n) per
    * user partition, all type counters evaluated in the one frame
    * pass. At 100 TB: one shuffle on user_id (per-user window state
    * bounded by the 5-minute band's density), no pair explosion
    * anywhere.
    *
    * Null parity with the oracle's plain range join: null user_id/ts
    * rows pair with nothing under `=`/`>` there, so they are filtered
    * here (they'd otherwise form a window partition); a null
    * event_type would still pair in the oracle (types are output, not
    * predicate), so it gets its own IS NULL counter bucket.
    *
    * Budget + witness (r14, advisor): the eager distinct-type collect
    * is gated at 64 types — one counter column per type means plan size
    * and per-row frame work scale O(n × |types|), so past the budget
    * the band-bucketed join spelling ([[rangeJoinBucketed]] — pure
    * shuffle join, no per-type columns) takes over, the same
    * budget-with-fallback policy as q85. And because the counter
    * columns bind the type domain at BUILD time, the plan carries an
    * execution-time witness: every event row's own type surfaces as a
    * `type_a` group, so a type that appears after plan construction is
    * caught by the pre-unpivot guard (it would otherwise silently lose
    * every pair where it is type_b) — the guard sits ABOVE the rollup
    * and BELOW the n_pairs > 0 filter, so even a zero-successor new
    * type reaches it. A type that vanishes needs no witness: its
    * counters read zero and its absence is the correct answer.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val typeBudget = 64
    val e = Tables.load(s, dir, "events").select("user_id", "ts", "event_type")
      .where(col("user_id").isNotNull && col("ts").isNotNull)
    val typeRows =
      e.select(col("event_type")).distinct().limit(typeBudget + 1).collect()
    if (typeRows.length > typeBudget) return rangeJoinBucketed(s, dir)
    val types: Seq[Option[String]] =
      typeRows.map(r => Option(r.getString(0))).sortBy(_.getOrElse("")).toSeq
    if (types.isEmpty) // empty events table: no counter columns to build
      return e.select(col("event_type").as("type_a"),
        col("event_type").as("type_b"), lit(0L).as("n_pairs")).limit(0)
    def typeMatches(t: Option[String]) = t match {
      case Some(v) => col("event_type") === v
      case None    => col("event_type").isNull
    }
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(1L, BandNs)
    val counted = e.select(
      col("event_type").as("type_a") +:
        types.zipWithIndex.map { case (t, i) =>
          count(when(typeMatches(t), 1)).over(w).as(s"c_$i")
        }: _*)
    val rolled = counted.groupBy(col("type_a"))
      .agg(sum(col("c_0")).as("s_0"),
        types.indices.drop(1).map(i => sum(col(s"c_$i")).as(s"s_$i")): _*)
    val knownNamed = types.collect { case Some(v) => v }
    val typeKnown =
      (if (knownNamed.isEmpty) lit(false) else col("type_a").isin(knownNamed: _*)) ||
        (if (types.contains(None)) col("type_a").isNull else lit(false))
    val stackArgs = types.zipWithIndex.flatMap { case (t, i) =>
      Seq(t.map(lit).getOrElse(lit(null).cast("string")), col(s"s_$i"))
    }
    rolled
      .select(
        when(typeKnown, col("type_a")).otherwise(raise_error(concat(
          lit("q57 type-domain witness violated: event_type "),
          coalesce(col("type_a"), lit("<null>")),
          lit(" appeared after plan construction — rebuild the query"))))
          .as("type_a"),
        stack((lit(types.length) +: stackArgs): _*).as(Seq("type_b", "n_pairs")))
      .where(col("n_pairs") > 0)
  }

  /** The band-bucketed range-join spelling — the r12 shape, retained as
    * [[qRangeJoin]]'s >budget fallback: each left row lands in its
    * 5-minute bucket and the next (a successor within the band is in
    * one of the two), the join runs equi-key on (user_id, bucket) with
    * the band as a residual filter, and the pair rollup follows. No
    * per-type counter columns, so it is indifferent to type-domain
    * cardinality; the cost is a 3n-row shuffle and a real join
    * build/probe (measured 2.12 s vs the window spelling's 0.76 s at
    * 10× events — BASELINE.md; TemporalSpec pins it against brute force).
    */
  def rangeJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events").select("user_id", "ts", "event_type")
    val a = e.toDF("user_id", "ts_a", "type_a")
      .withColumn("bkt", explode(array(
        expr(s"ts_a DIV $BandNs"), expr(s"ts_a DIV $BandNs") + lit(1L))))
    val b = e.toDF("user_id_b", "ts_b", "type_b")
      .withColumn("bkt_b", expr(s"ts_b DIV $BandNs"))
    a.join(b,
        col("user_id") === col("user_id_b") && col("bkt") === col("bkt_b") &&
          col("ts_b") > col("ts_a") && col("ts_b") - col("ts_a") <= BandNs)
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val qRangeJoinSql: String =
    s"""SELECT a.event_type AS type_a, b.event_type AS type_b,
       |  COUNT(*) AS n_pairs
       |FROM events a JOIN events b
       |  ON a.user_id = b.user_id
       | AND epoch_ns(b.ts) > epoch_ns(a.ts)
       | AND epoch_ns(b.ts) - epoch_ns(a.ts) <= $BandNs
       |GROUP BY 1, 2""".stripMargin

  /** Generic as-of core: probe rows (k, t_ns) each enriched with the
    * latest NON-NULL `attr` of the build rows (k, t_ns, attr) at or
    * before it (null when none) — last-known-value semantics: null-attr
    * build rows are skipped, not carried, so a tombstone does not mask an
    * earlier reading (the same rows q58's oracle computes with
    * `last_value(attr IGNORE NULLS)` over a union + forward-fill).
    * Same-instant build rows are visible to the probe; equal-time builds
    * tiebreak on attr for a deterministic total order.
    *
    * Compact-history join: the build side folds to one (t_ns, attr)
    * array per key — dimension-sized, not event-sized — and each probe
    * row takes the lexicographic max of its at-or-before prefix:
    * `array_max(filter(...))` IS "latest t, then max attr" under struct
    * ordering, needs no per-key sort at build time, and is NULL on an
    * empty prefix (ANSI off, Session.scala), which IS the "no prior
    * build" answer.
    *
    * Scale shape: ONE shuffle of the build stream (group to histories);
    * the probe stream is never sorted — it hash-joins the compacted
    * histories. The SHUFFLE_HASH hint PINS that shape: JoinSelection
    * gives an explicit join-strategy hint precedence over size-based
    * broadcast, under AQE re-planning too (the same precedence the
    * TextOps no-broadcast pair-join pins rely on), so the join never
    * upgrades to broadcast — a deterministic exchange on k instead of a
    * size-estimate race, and the probe side is never sorted either way.
    * A union + forward-fill spelling would shuffle AND sort build+probe
    * together; this one replaces that O((|b|+|p|) log) per-key sort with
    * O(|b| log h) local array sorts. Precondition: each key's build
    * history fits one array buffer — true for "dimension state as of the
    * event" enrichment (orders per customer), not for unbounded per-key
    * histories.
    */
  def asofLatest(build: DataFrame, probe: DataFrame): DataFrame = {
    // null-attr build rows dropped (last-known-value semantics, see
    // docstring): array_max would otherwise return the latest row's null
    // instead of the latest non-null reading
    val hist = build.where(col("attr").isNotNull).groupBy(col("k"))
      .agg(collect_list(struct(col("t_ns"), col("attr"))).as("hist"))
    // shuffle-hash, histories as build side: sorting either stream buys
    // nothing (the per-row lookup is an array probe), and the history
    // side is the bounded one. The hint is a PIN, not a default — an
    // explicit strategy hint outranks size-based broadcast in
    // JoinSelection even under AQE re-planning, so the join stays
    // shuffled-hash at every scale (deterministic cost; drop the hint if
    // a broadcast upgrade for small dimensions is ever wanted instead)
    probe.join(hist.hint("shuffle_hash"), Seq("k"), "left")
      .select(col("k"), col("t_ns"),
        array_max(filter(col("hist"),
          e => e.getField("t_ns") <= col("t_ns")))
          .getField("attr").as("last_attr"))
  }

  /** For every event, the priority of the user's latest ORDER at or before
    * the event time ('none' when the user has no prior orders) — the
    * classic "dimension state as of the event" enrichment — rolled up to
    * counts, via the compact-history [[asofLatest]] (per-customer order
    * history is dimension-bounded).
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("k"),
        // o_orderdate is TIMESTAMP_NTZ; the session tz is UTC, so the cast
        // maps wall-clock to the same instant DuckDB's epoch_us computes
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("t_ns"),
        col("o_orderpriority").as("attr"))
    val e = Tables.load(s, dir, "events")
      .select(col("user_id").as("k"), col("ts").as("t_ns"))
    asofLatest(o, e)
      .groupBy(coalesce(col("last_attr"), lit("none")).as("last_order_priority"))
      .agg(count(lit(1)).as("n_events"))
  }

  val qAsofJoinSql: String =
    """WITH u AS (
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) * 1000 AS t_ns,
      |    o_orderpriority AS attr, 0 AS is_probe
      |  FROM orders
      |  UNION ALL
      |  SELECT user_id, epoch_ns(ts), NULL, 1 FROM events),
      |f AS (
      |  SELECT *, last_value(attr IGNORE NULLS) OVER (
      |      PARTITION BY k ORDER BY t_ns, is_probe, attr
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_attr
      |  FROM u)
      |SELECT COALESCE(last_attr, 'none') AS last_order_priority,
      |  COUNT(*) AS n_events
      |FROM f WHERE is_probe = 1 GROUP BY 1""".stripMargin

  /** SCD2 compaction: a change stream (k, t_ns, seq, attr) → the
    * slowly-changing-dimension type-2 history: one row per RUN of equal
    * consecutive attr values per key, with [valid_from_ns, valid_to_ns)
    * validity (open row: null valid_to). Gaps-and-islands over one shuffle
    * on the key; `seq` breaks same-instant ties deterministically.
    */
  def scd2FromChanges(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("t_ns").asc, col("seq").asc)
    val runs = changes
      .withColumn("chg",
        when(lag(col("attr"), 1).over(w).isNull ||
          lag(col("attr"), 1).over(w) =!= col("attr"), 1).otherwise(0))
      .withColumn("run_id", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("run_id"))
      .agg(first(col("attr")).as("attr"), min(col("t_ns")).as("valid_from_ns"))
    // order successor lookup by run_id, not valid_from: same-instant runs
    // (tie split by seq) share a valid_from and would make lead ambiguous
    val wr = Window.partitionBy(col("k")).orderBy(col("run_id").asc)
    runs
      .withColumn("valid_to_ns", lead(col("valid_from_ns"), 1).over(wr))
      .select(col("k"), col("attr"), col("valid_from_ns"), col("valid_to_ns"))
  }

  /** SCD2 history of each customer's order priority (custkey < 100), built
    * from the order change stream.
    */
  def qScd2History(s: SparkSession, dir: String): DataFrame = {
    val changes = Tables.load(s, dir, "orders")
      .where(col("o_custkey") < 100)
      .select(col("o_custkey").as("k"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("t_ns"),
        col("o_orderkey").as("seq"), col("o_orderpriority").as("attr"))
    scd2FromChanges(changes)
  }

  val qScd2HistorySql: String =
    """WITH c AS (
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) * 1000 AS t_ns,
      |    o_orderkey AS seq, o_orderpriority AS attr
      |  FROM orders WHERE o_custkey < 100),
      |m AS (
      |  SELECT *, CASE WHEN lag(attr) OVER w IS NULL
      |                   OR lag(attr) OVER w <> attr THEN 1 ELSE 0 END AS chg
      |  FROM c WINDOW w AS (PARTITION BY k ORDER BY t_ns, seq)),
      |r AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY k ORDER BY t_ns, seq
      |    ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM m),
      |runs AS (
      |  SELECT k, run_id, MIN(t_ns) AS valid_from_ns,
      |    ANY_VALUE(attr) AS attr
      |  FROM r GROUP BY k, run_id)
      |SELECT k, attr, valid_from_ns,
      |  lead(valid_from_ns) OVER (PARTITION BY k ORDER BY run_id)
      |    AS valid_to_ns
      |FROM runs""".stripMargin

  /** q122: MERGE INTO (Delta/Iceberg upsert) semantics on a plain lake —
    * base snapshot ⟗ CDC batch on the key, one full-outer sort-merge
    * join, then per-row action resolution:
    *
    *  - no CDC row        → carry the base row
    *  - op 'D'            → drop
    *  - op 'U'            → base row with updated price, status 'U'
    *  - op 'I'            → new row from the CDC payload, status 'N'
    *
    * The CDC batch is derived deterministically from orders (delete keys
    * %10=4, insert keys %10=9 — absent from the base by construction —
    * update keys %3=0 otherwise) so both engines build identical inputs.
    *
    * Scale: ONE shuffle on the merge key for both sides (sort-merge
    * full-outer) — the exact plan a MERGE compiles to; with a small CDC
    * batch the join broadcast-hints down to a single-sided shuffle. The
    * output here rolls up per final status (counts + exact key/price
    * sums) so the gate pins the full merged row set without dumping it.
    */
  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import Relational.dsum
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = o.where(col("o_orderkey") % 10 =!= 9)
    val changes = o
      .withColumn("op",
        when(col("o_orderkey") % 10 === 4, "D")
          .when(col("o_orderkey") % 10 === 9, "I")
          .when(col("o_orderkey") % 3 === 0, "U"))
      .where(col("op").isNotNull)
      .select(col("o_orderkey"), col("op"),
        col("o_totalprice").as("c_price"),
        (col("o_totalprice") + lit(100.0)).as("u_price"))
    val merged = base.join(changes, Seq("o_orderkey"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(
        col("o_orderkey"),
        when(col("op") === "I", "N").when(col("op") === "U", "U")
          .otherwise(col("o_orderstatus")).as("status"),
        when(col("op") === "I", col("c_price"))
          .when(col("op") === "U", col("u_price"))
          .otherwise(col("o_totalprice")).as("price"))
    merged.groupBy(col("status")).agg(
      count(lit(1)).as("n"),
      sum(col("o_orderkey")).as("key_sum"),
      dsum(col("price")).as("price_sum"))
  }

  val qMergeUpsertSql: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |base AS (SELECT * FROM o WHERE o_orderkey % 10 <> 9),
      |chg AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 10 = 4 THEN 'D'
      |         WHEN o_orderkey % 10 = 9 THEN 'I'
      |         WHEN o_orderkey % 3 = 0 THEN 'U' END AS op,
      |    o_totalprice AS c_price,
      |    o_totalprice + CAST(100.0 AS DOUBLE) AS u_price
      |  FROM o
      |  WHERE o_orderkey % 10 IN (4, 9) OR o_orderkey % 3 = 0),
      |m AS (
      |  SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
      |    CASE WHEN c.op = 'I' THEN 'N' WHEN c.op = 'U' THEN 'U'
      |         ELSE b.o_orderstatus END AS status,
      |    CASE WHEN c.op = 'I' THEN c.c_price WHEN c.op = 'U' THEN c.u_price
      |         ELSE b.o_totalprice END AS price
      |  FROM base b FULL JOIN chg c USING (o_orderkey)
      |  WHERE c.op IS NULL OR c.op <> 'D')
      |SELECT status, COUNT(*) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(CAST(SUM(CAST(price AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |    AS price_sum
      |FROM m GROUP BY status""".stripMargin

  private val DayUs = 86400000000L

  /** q126: max concurrent sessions per day — the interval-overlap sweep
    * (+1 at session start, −1 at session end, running sum) decomposed so
    * it scales: a GLOBAL ordered cumsum is a single-partition window, so
    * instead the sweep runs per day (partitioned window) and each day's
    * starting concurrency ("carry" = sessions already active at
    * midnight) is computed separately. A session contributes carry to
    * days (day(start), day(end)] — emitted via a row-local sequence()
    * that is EMPTY for the overwhelmingly-common same-day session, so
    * the carry frame stays tiny and the whole plan is one window shuffle
    * on day + two bounded aggregates. Sessions are q33's 30-minute-gap
    * sessions ([min ts, max ts] closed intervals); ties process starts
    * before ends, so touching sessions count as concurrent.
    */
  def qMaxConcurrency(s: SparkSession, dir: String): DataFrame = {
    // Persisted: three consumers (deltas, carry, day scaffold) would each
    // re-run the sessionize shuffle otherwise — the same
    // materialize-the-heavy-intermediate move as q49's posting list.
    val sess = Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes").as("w"))
      .agg(unix_micros(min(col("ts_utc"))).as("s_us"),
        unix_micros(max(col("ts_utc"))).as("e_us"))
      .select(col("s_us"), col("e_us"),
        expr(s"s_us DIV $DayUs").as("s_day"),
        expr(s"e_us DIV $DayUs").as("e_day"))
      .persist()
    // r21 (the q85 one-pass symmetrize move, guide §2.4): the old
    // two-branch union scanned the session cache twice (2 × 32 cached
    // partitions per run); one row-local explode emits the same
    // (+1 at start, −1 at end) delta multiset in a single pass, and the
    // window's (ts, d DESC) sort makes input order irrelevant. A/B same
    // window at sf0.1: 0.57/0.56 → 0.56/0.43 s, exceptAll = 0
    // (OPTIMIZATION_r21.md).
    val deltas = sess.select(explode(array(
        struct(col("s_us").as("ts"), lit(1L).as("d"), col("s_day").as("day_idx")),
        struct(col("e_us").as("ts"), lit(-1L).as("d"), col("e_day").as("day_idx"))))
        .as("x"))
      .select(col("x.ts").as("ts"), col("x.d").as("d"), col("x.day_idx").as("day_idx"))
    val w = Window.partitionBy(col("day_idx"))
      .orderBy(col("ts").asc, col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dayMax = deltas.withColumn("run", sum(col("d")).over(w))
      .groupBy(col("day_idx")).agg(max(col("run")).as("max_run"))
    val carry = sess.where(col("e_day") > col("s_day"))
      .select(explode(expr(s"sequence(s_day + 1, e_day)")).as("day_idx"))
      .groupBy(col("day_idx")).agg(count(lit(1)).as("carry"))
    val days = sess.agg(min(col("s_day")).as("mn"), max(col("e_day")).as("mx"))
      .select(explode(expr("sequence(mn, mx)")).as("day_idx"))
    days
      .join(broadcast(dayMax), Seq("day_idx"), "left")
      .join(broadcast(carry), Seq("day_idx"), "left")
      .select(col("day_idx"),
        (coalesce(col("carry"), lit(0L)) +
          greatest(lit(0L), coalesce(col("max_run"), lit(0L)))).as("max_conc"))
  }

  val qMaxConcurrencySql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us,
       |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
       |      (PARTITION BY user_id ORDER BY epoch_us(ts)) >= 1800000000
       |      THEN 1 ELSE 0 END AS new_session
       |  FROM events),
       |sn AS (
       |  SELECT *, SUM(new_session) OVER
       |    (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING)
       |    AS session_id
       |  FROM e),
       |s AS (
       |  SELECT MIN(us) AS s_us, MAX(us) AS e_us,
       |    MIN(us) // $DayUs AS s_day, MAX(us) // $DayUs AS e_day
       |  FROM sn GROUP BY user_id, session_id),
       |d AS (
       |  SELECT s_us AS ts, 1 AS d, s_day AS day_idx FROM s
       |  UNION ALL
       |  SELECT e_us AS ts, -1 AS d, e_day AS day_idx FROM s),
       |mx AS (
       |  SELECT day_idx, MAX(run) AS max_run FROM (
       |    SELECT day_idx, SUM(d) OVER (PARTITION BY day_idx
       |      ORDER BY ts, d DESC ROWS UNBOUNDED PRECEDING) AS run
       |    FROM d)
       |  GROUP BY day_idx),
       |c AS (
       |  SELECT unnest(generate_series(s_day + 1, e_day)) AS day_idx
       |  FROM s WHERE e_day > s_day),
       |cc AS (SELECT day_idx, COUNT(*) AS carry FROM c GROUP BY day_idx),
       |days AS (
       |  SELECT unnest(generate_series(MIN(s_day), MAX(e_day))) AS day_idx
       |  FROM s)
       |SELECT days.day_idx,
       |  CAST(COALESCE(cc.carry, 0) + GREATEST(0, COALESCE(mx.max_run, 0))
       |    AS BIGINT) AS max_conc
       |FROM days
       |LEFT JOIN mx ON mx.day_idx = days.day_idx
       |LEFT JOIN cc ON cc.day_idx = days.day_idx""".stripMargin

  /** q128: event-sequence pattern matching (the MATCH_RECOGNIZE analog) —
    * each user's event stream becomes a per-user string of type initials
    * in (ts, event_id) order, and conversions are counted as
    * non-overlapping matches of `v[^p]*p` (a view eventually followed by
    * a purchase, no intervening purchase claimed twice). Output is the
    * conversion-count histogram over users.
    *
    * Scale: one shuffle on user_id; the per-user sequence is bounded by
    * per-user activity (collect_list + sort_array is per-group, not
    * global — a pathological single user's history is the same state any
    * sequence matcher must hold). Both regex engines (Java, RE2) produce
    * identical non-overlapping leftmost matches for this pattern: the
    * `[^p]*` segment cannot cross a 'p', so each match closes at the
    * first purchase after its opening view.
    */
  def qEventPattern(s: SparkSession, dir: String): DataFrame = {
    val seqs = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c"))
      .groupBy(col("user_id"))
      .agg(concat_ws("", expr(
        "transform(sort_array(collect_list(struct(ts, event_id, c))), x -> x.c)"))
        .as("seq"))
    seqs
      .withColumn("n_conv",
        size(regexp_extract_all(col("seq"), lit("v[^p]*p"), lit(0))).cast("long"))
      .groupBy(col("n_conv"))
      .agg(count(lit(1)).as("n_users"),
        sum(length(col("seq"))).cast("bigint").as("n_events"))
  }

  val qEventPatternSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    string_agg(substr(event_type, 1, 1), ''
      |      ORDER BY epoch_ns(ts), event_id) AS seq
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT len(regexp_extract_all(seq, 'v[^p]*p', 0)) AS n_conv,
      |    len(seq) AS n_ev
      |  FROM s)
      |SELECT CAST(n_conv AS BIGINT) AS n_conv, COUNT(*) AS n_users,
      |  CAST(SUM(n_ev) AS BIGINT) AS n_events
      |FROM m GROUP BY n_conv""".stripMargin

  /** Shared with [[graft.streaming.Events.debounceStream]] so the
    * batch/stream parity is structural, not two unlinked literals.
    */
  val DebounceNs = 300L * 1000 * 1000 * 1000 // 5 minutes

  /** q136: event debouncing — the at-least-once-delivery cleanup every
    * event pipeline runs: an event survives iff it is ≥5 minutes after
    * the previous raw event of its (user, type) key (the previous-arrival
    * anchor, the same semantic as watermarked streaming dropDuplicates;
    * a last-KEPT-event anchor would need a stateful fold instead of one
    * lag). One shuffle on (user_id, event_type); ties broken by event_id.
    */
  def qDebounce(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.load(s, dir, "events")
      .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
      .withColumn("kept", col("gap").isNull || col("gap") >= DebounceNs)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
  }

  val qDebounceSql: String =
    s"""WITH g AS (
       |  SELECT event_type,
       |    epoch_ns(ts) - lag(epoch_ns(ts)) OVER
       |      (PARTITION BY user_id, event_type
       |       ORDER BY epoch_ns(ts), event_id) AS gap
       |  FROM events)
       |SELECT event_type, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN gap IS NULL OR gap >= $DebounceNs
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN gap IS NULL OR gap >= $DebounceNs
       |    THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM g GROUP BY event_type""".stripMargin

  /** q138: view→purchase conversion latency — for each purchase, the gap
    * to the user's latest view at or before it (the as-of enrichment,
    * q58's union + forward-fill: one shuffle on user_id, no join
    * explosion), then exact latency percentiles per event volume. The
    * percentile runs over conversions only (a bounded slice of the
    * stream) with `percentile()` — bit-matching DuckDB's quantile_cont
    * on integer nanos (the q113-proven pairing).
    */
  def qConversionLatency(s: SparkSession, dir: String): DataFrame = {
    // microsecond axis: DuckDB's epoch_ns on this parquet truncates to
    // us anyway (TIMESTAMP storage); us on both sides keeps raw output
    // values comparable (q33 precedent)
    val e = Tables.load(s, dir, "events")
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = e.withColumn("last_view_us",
      last(when(col("event_type") === "view", col("ts_us")), ignoreNulls = true).over(w))
    filled
      .where(col("event_type") === "purchase" && col("last_view_us").isNotNull)
      .withColumn("latency_us", col("ts_us") - col("last_view_us"))
      .agg(
        count(lit(1)).as("n_conversions"),
        expr("percentile(latency_us, 0.5D)").as("p50_us"),
        expr("percentile(latency_us, 0.9D)").as("p90_us"),
        max(col("latency_us")).as("max_us"))
  }

  val qConversionLatencySql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |f AS (
      |  SELECT *, last_value(CASE WHEN event_type = 'view' THEN ts_us END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
      |  FROM e),
      |conv AS (
      |  SELECT ts_us - last_view_us AS latency_us FROM f
      |  WHERE event_type = 'purchase' AND last_view_us IS NOT NULL)
      |SELECT COUNT(*) AS n_conversions,
      |  quantile_cont(latency_us, 0.5) AS p50_us,
      |  quantile_cont(latency_us, 0.9) AS p90_us,
      |  CAST(MAX(latency_us) AS BIGINT) AS max_us
      |FROM conv""".stripMargin

  private val DayNs = 86400000000000L

  /** q153: gap-filling linear interpolation — the daily value total per
    * event type, with event-free days filled by the straight line
    * between the nearest observed neighbors (the standard timeseries
    * repair before feeding a model that assumes a dense axis; forward-
    * fill (q58) repeats the past, this splits the difference). The day
    * grid is scaffolded PER TYPE from that type's own [min, max]
    * observed span, so every missing day has both neighbors by
    * construction and edge extrapolation never happens.
    *
    * Scale shape: daily rollup aggregates below everything (one
    * corpus-sized shuffle, map-side combined); the grid explode and
    * both neighbor windows run on the bounded (type × day-span) frame,
    * partitioned by type. Neighbor lookup is last/first IGNORE NULLS
    * over the in-partition sort — O(1) window state, no self-join.
    * Interpolation arithmetic: identical double op order in both
    * engines; the day fraction is bigint/bigint (one IEEE division);
    * result rounds to 6.
    */
  def qInterpolateGaps(s: SparkSession, dir: String): DataFrame = {
    import Relational.dsum
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts DIV $DayNs").as("day_idx"))
      .agg(dsum(col("value")).as("v"))
      .persist()
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day_idx")).as("mn"), max(col("day_idx")).as("mx"))
      .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("day_idx"))
    val full = grid.join(daily, Seq("event_type", "day_idx"), "left")
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rowsBetween(1, Window.unboundedFollowing)
    full
      .withColumn("d_prev", last(when(col("v").isNotNull, col("day_idx")), ignoreNulls = true).over(wPrev))
      .withColumn("v_prev", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("d_next", first(when(col("v").isNotNull, col("day_idx")), ignoreNulls = true).over(wNext))
      .withColumn("v_next", first(col("v"), ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("day_idx"),
        round(coalesce(col("v"),
          col("v_prev") + (col("v_next") - col("v_prev")) *
            ((col("day_idx") - col("d_prev")) / (col("d_next") - col("d_prev")))),
          6).as("value"),
        col("v").isNull.as("interpolated"))
  }

  val qInterpolateGapsSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DayNs AS day_idx,
       |    ${Relational.dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, unnest(generate_series(mn, mx)) AS day_idx
       |  FROM (SELECT event_type, MIN(day_idx) AS mn, MAX(day_idx) AS mx
       |        FROM daily GROUP BY 1)),
       |filled AS (
       |  SELECT g.event_type, g.day_idx, d.v
       |  FROM grid g LEFT JOIN daily d
       |    ON d.event_type = g.event_type AND d.day_idx = g.day_idx),
       |n AS (
       |  SELECT event_type, day_idx, v,
       |    last_value(CASE WHEN v IS NOT NULL THEN day_idx END IGNORE NULLS)
       |      OVER (PARTITION BY event_type ORDER BY day_idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS d_prev,
       |    last_value(v IGNORE NULLS)
       |      OVER (PARTITION BY event_type ORDER BY day_idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_prev,
       |    first_value(CASE WHEN v IS NOT NULL THEN day_idx END IGNORE NULLS)
       |      OVER (PARTITION BY event_type ORDER BY day_idx
       |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS d_next,
       |    first_value(v IGNORE NULLS)
       |      OVER (PARTITION BY event_type ORDER BY day_idx
       |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v_next
       |  FROM filled)
       |SELECT event_type, day_idx,
       |  ROUND(COALESCE(v,
       |    v_prev + (v_next - v_prev) * ((day_idx - d_prev) / (d_next - d_prev))),
       |    6) AS value,
       |  v IS NULL AS interpolated
       |FROM n""".stripMargin

  /** q160: first-order Markov transition matrix over each user's event
    * timeline — for every (from, to) type pair, the transition count and
    * conditional probability P(to | from). The sequence-model summary
    * q128's pattern matcher doesn't give: where do users GO next, the
    * input to funnel simulation and to next-event-prediction baselines.
    *
    * Scale shape: one shuffle on user_id for the lag window (per-user
    * frames, bounded by a user's event count); the transition aggregate
    * runs on the bounded type × type domain (≤25 rows) and the row
    * probability normalizes inside that bounded frame. Ordering is
    * (ts, event_id) — ns axis with a unique tiebreak, same total order
    * in both engines.
    */
  def qMarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
  }

  val qMarkovTransitionsSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS from_type
      |  FROM events),
      |c AS (
      |  SELECT from_type, event_type AS to_type, COUNT(*) AS n
      |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  ROUND(CAST(n AS DOUBLE)
      |    / SUM(n) OVER (PARTITION BY from_type), 6) AS p
      |FROM c""".stripMargin

  /** q161: Kaplan–Meier estimate of user lifetime — lifetime = days
    * between a user's first and last event; users whose last event falls
    * in the corpus's final observed day are CENSORED (still active, so
    * their true lifetime is only known to be ≥ observed — dropping them
    * would bias retention down, the error KM exists to fix). Per distinct
    * lifetime t: deaths d, censored c, at-risk n (lifetime ≥ t), and the
    * running log-survival ln S(t) = Σ_{u≤t} ln(1 − d_u/n_u).
    *
    * Survival is reported in LOG space: the cumulative product behind
    * S(t) is order-sensitive in floats, but a running DECIMAL sum of
    * per-step ln factors (each one IEEE division + ln, rounded to 9)
    * is exact and engine-independent; exp() is deliberately left to the
    * consumer (libm exp is not bit-portable, libm ln demonstrably is —
    * q130/q93). d = n can only happen at the maximal lifetime (at-risk
    * is monotone and censoring only adds survivors), where S hits exact
    * zero: that row reports NULL ln S.
    *
    * Scale shape: one shuffle on user_id for first/last, a 1-row global
    * max-day broadcast, then everything runs on the bounded distinct-
    * lifetime frame (≤ observed day span) in one window pass.
    */
  def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.load(s, dir, "events")
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val maxDay = ev.select(max(expr(s"ts DIV $DayNs")).as("max_day"))
    val lifetimes = users.crossJoin(broadcast(maxDay))
      .select(expr(s"(mx - mn) DIV $DayNs").as("t"),
        (expr(s"mx DIV $DayNs") === col("max_day")).as("cens"))
    val byT = lifetimes.groupBy(col("t"))
      .agg(sum(when(!col("cens"), 1L).otherwise(0L)).as("d"),
        sum(when(col("cens"), 1L).otherwise(0L)).as("c"))
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
      .withColumn("factor",
        when(col("d") < col("n_risk"),
          round(log((col("n_risk") - col("d")).cast("double") / col("n_risk")), 9)
            .cast(DecimalType(18, 9))))
      .withColumn("km_log_surv",
        when(col("d") < col("n_risk"),
          sum(col("factor")).over(wCum).cast("double")))
      .select(col("t").as("t_days"), col("n_risk"), col("d"), col("c"),
        round(col("km_log_surv"), 6).as("km_log_surv"))
  }

  val qKaplanMeierSql: String =
    s"""WITH u AS (
       |  SELECT user_id, MIN(epoch_ns(ts)) AS mn, MAX(epoch_ns(ts)) AS mx
       |  FROM events GROUP BY user_id),
       |g AS (SELECT MAX(epoch_ns(ts)) // $DayNs AS max_day FROM events),
       |lt AS (
       |  SELECT (mx - mn) // $DayNs AS t,
       |    (mx // $DayNs = g.max_day) AS cens
       |  FROM u CROSS JOIN g),
       |byt AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |    CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM lt GROUP BY t),
       |r AS (
       |  SELECT t, d, c,
       |    CAST(SUM(d + c) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM byt),
       |f AS (
       |  SELECT t, d, c, n_risk,
       |    CASE WHEN d < n_risk THEN CAST(round(
       |      ln(CAST(n_risk - d AS DOUBLE) / n_risk), 9) AS DECIMAL(18,9))
       |    END AS factor
       |  FROM r)
       |SELECT t AS t_days, n_risk, d, c,
       |  ROUND(CASE WHEN d < n_risk THEN CAST(CAST(
       |      SUM(factor) OVER (ORDER BY t ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS VARCHAR) AS DOUBLE) END, 6) AS km_log_surv
       |FROM f""".stripMargin

  /** q164: CUSUM changepoint screen — per event type, the cumulative sum
    * of standardized daily deviations over the gap-filled day grid, and
    * the day where |CUSUM| peaks: the classic "when did the level shift"
    * detector (a mean step of δ makes the CUSUM a V/Λ whose vertex IS
    * the change day). Complements q127's rolling z (which finds SPIKES;
    * CUSUM finds small persistent shifts spikes-based screens miss).
    * Event-free days enter at v=0, so an outage-induced shift is
    * detectable instead of structurally invisible.
    *
    * Float determinism: mean/σ come from exact decimal sums over the
    * grid (v² squared in DOUBLE via round(v·v, 6) before the decimal
    * sum — the repo convention, decimal×decimal binds different scales
    * across engines); each z rounds to 6dp and the cumulative sum runs
    * in DECIMAL, so the running total is exact and order-free.
    *
    * Scale shape: one corpus shuffle to daily totals; the grid, the
    * per-type moment join (broadcast — type domain is bounded), the
    * cumulative window, and the argmax all run on the bounded
    * (type × day-span) frame partitioned by type.
    */
  def qCusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import Relational.dsum
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts DIV $DayNs").as("day_idx"))
      .agg(dsum(col("value")).as("v"))
      .persist()
    // Day-span AND moments in ONE agg over the (persisted, tiny) daily
    // frame (r15, was two passes with the second one re-deriving the
    // grid join): gap days enter both decimal sums as exact zeros and
    // the grid row count is just the span, so stats over the gap-filled
    // grid ≡ stats over daily + (mx-mn+1) — bit-identical, one pass.
    val stats = daily.groupBy(col("event_type")).agg(
      min(col("day_idx")).as("mn"), max(col("day_idx")).as("mx"),
      sum(col("v").cast(DecimalType(18, 6))).cast("double").as("sv"),
      sum(round(col("v") * col("v"), 6).cast(DecimalType(28, 6)))
        .cast("double").as("ssv"))
      .withColumn("n", (col("mx") - col("mn") + 1).cast("double"))
    // the moments ride THROUGH the grid explode — every grid row already
    // carries its type's n/sv/ssv, so no re-join (and no second stats
    // evaluation) is needed downstream
    val grid = stats.select(col("event_type"), col("n"), col("sv"), col("ssv"),
      explode(expr("sequence(mn, mx)")).as("day_idx"))
    val withZ = grid.join(daily, Seq("event_type", "day_idx"), "left")
      .na.fill(0.0, Seq("v"))
      .withColumn("mean", col("sv") / col("n"))
      .withColumn("variance", col("ssv") / col("n") - col("mean") * col("mean"))
      .where(col("variance") > 0.0)
      .withColumn("z",
        round((col("v") - col("mean")) / sqrt(col("variance")), 6)
          .cast(DecimalType(18, 6)))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withZ
      .withColumn("cusum", sum(col("z")).over(wCum))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("cusum")).desc, col("day_idx").asc)))
      .where(col("rn") === 1)
      .select(col("event_type"), col("n").cast("bigint").as("n_days"),
        col("day_idx").as("change_day"),
        round(col("cusum").cast("double"), 6).as("cusum_peak"))
  }

  val qCusumChangepointSql: String = {
    import Relational.dsumSql
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DayNs AS day_idx,
       |    ${dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, unnest(generate_series(mn, mx)) AS day_idx
       |  FROM (SELECT event_type, MIN(day_idx) AS mn, MAX(day_idx) AS mx
       |        FROM daily GROUP BY 1)),
       |fullg AS (
       |  SELECT g.event_type, g.day_idx, COALESCE(d.v, CAST(0 AS DOUBLE)) AS v
       |  FROM grid g LEFT JOIN daily d
       |    ON d.event_type = g.event_type AND d.day_idx = g.day_idx),
       |stats AS (
       |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sv,
       |    CAST(CAST(SUM(CAST(round(v * v, 6) AS DECIMAL(28,6))) AS VARCHAR)
       |      AS DOUBLE) AS ssv
       |  FROM fullg GROUP BY event_type),
       |z AS (
       |  SELECT f.event_type, f.day_idx, s.n,
       |    CAST(round((f.v - s.sv / s.n)
       |      / sqrt(s.ssv / s.n - (s.sv / s.n) * (s.sv / s.n)), 6)
       |      AS DECIMAL(18,6)) AS z
       |  FROM fullg f JOIN stats s ON s.event_type = f.event_type
       |  WHERE s.ssv / s.n - (s.sv / s.n) * (s.sv / s.n) > 0.0),
       |c AS (
       |  SELECT event_type, day_idx, n,
       |    SUM(z) OVER (PARTITION BY event_type ORDER BY day_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
       |  FROM z),
       |r AS (
       |  SELECT event_type, day_idx, n, cusum,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY abs(cusum) DESC, day_idx ASC) AS rn
       |  FROM c)
       |SELECT event_type, CAST(n AS BIGINT) AS n_days, day_idx AS change_day,
       |  ROUND(CAST(CAST(cusum AS VARCHAR) AS DOUBLE), 6) AS cusum_peak
       |FROM r WHERE rn = 1""".stripMargin
  }

  /** q165: autocorrelation function — per event type, the lag-1..7
    * Pearson autocorrelation of the gap-filled daily value series (ACF
    * normalized by the full-series variance, the standard estimator):
    * the weekly-seasonality / momentum diagnostic run before fitting
    * any forecasting model on a metric, and the companion to q127/q164
    * (IS there structure in the residual axis they score along?).
    *
    * Float determinism: deviations d = round(v − mean, 6) stay DOUBLE
    * (identical IEEE subtraction both engines); every product squares/
    * crosses in double via round(·, 6) and accumulates as DECIMAL —
    * never decimal×decimal.
    *
    * Scale shape: one corpus shuffle to daily totals; the lead windows
    * and the final aggregate run per type on the bounded day-span frame,
    * all seven lags from ONE window pass (shared sort), wide→long via
    * stack (no extra shuffle).
    */
  def qAcf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import Relational.dsum
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts DIV $DayNs").as("day_idx"))
      .agg(dsum(col("value")).as("v"))
      .persist()
    // same one-pass span+moment fusion as q164 (gap days are exact zeros
    // in the decimal sum; the grid count is the span)
    val stats = daily.groupBy(col("event_type")).agg(
      min(col("day_idx")).as("mn"), max(col("day_idx")).as("mx"),
      sum(col("v").cast(DecimalType(18, 6))).cast("double").as("sv"))
      .withColumn("n", (col("mx") - col("mn") + 1).cast("double"))
    // mean components ride through the explode — no re-join (see q164)
    val grid = stats.select(col("event_type"), col("n"), col("sv"),
      explode(expr("sequence(mn, mx)")).as("day_idx"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
    val withD = grid.join(daily, Seq("event_type", "day_idx"), "left")
      .na.fill(0.0, Seq("v"))
      .withColumn("d", round(col("v") - col("sv") / col("n"), 6))
    val withLeads = (1 to 7).foldLeft(withD) { (df, k) =>
      df.withColumn(s"d$k", lead(col("d"), k).over(w))
    }
    def dprod(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      sum(round(a * b, 6).cast(DecimalType(28, 6))).cast("double")
    val wide = withLeads.groupBy(col("event_type")).agg(
      dprod(col("d"), col("d")).as("den"),
      dprod(col("d"), col("d1")).as("n1"), dprod(col("d"), col("d2")).as("n2"),
      dprod(col("d"), col("d3")).as("n3"), dprod(col("d"), col("d4")).as("n4"),
      dprod(col("d"), col("d5")).as("n5"), dprod(col("d"), col("d6")).as("n6"),
      dprod(col("d"), col("d7")).as("n7"))
    wide.where(col("den") > 0.0)
      .selectExpr("event_type", "den",
        "stack(7, 1, n1, 2, n2, 3, n3, 4, n4, 5, n5, 6, n6, 7, n7) AS (lag, num)")
      .select(col("event_type"), col("lag"),
        round(col("num") / col("den"), 6).as("acf"))
  }

  val qAcfSql: String = {
    import Relational.dsumSql
    def dp(a: String, b: String) =
      s"CAST(CAST(SUM(CAST(round($a * $b, 6) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)"
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DayNs AS day_idx,
       |    ${dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, unnest(generate_series(mn, mx)) AS day_idx
       |  FROM (SELECT event_type, MIN(day_idx) AS mn, MAX(day_idx) AS mx
       |        FROM daily GROUP BY 1)),
       |fullg AS (
       |  SELECT g.event_type, g.day_idx, COALESCE(d.v, CAST(0 AS DOUBLE)) AS v
       |  FROM grid g LEFT JOIN daily d
       |    ON d.event_type = g.event_type AND d.day_idx = g.day_idx),
       |stats AS (
       |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sv
       |  FROM fullg GROUP BY event_type),
       |dev AS (
       |  SELECT f.event_type, f.day_idx, round(f.v - s.sv / s.n, 6) AS d
       |  FROM fullg f JOIN stats s ON s.event_type = f.event_type),
       |led AS (
       |  SELECT event_type, d,
       |    lead(d, 1) OVER w AS d1, lead(d, 2) OVER w AS d2,
       |    lead(d, 3) OVER w AS d3, lead(d, 4) OVER w AS d4,
       |    lead(d, 5) OVER w AS d5, lead(d, 6) OVER w AS d6,
       |    lead(d, 7) OVER w AS d7
       |  FROM dev
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)),
       |wide AS (
       |  SELECT event_type,
       |    ${dp("d", "d")} AS den,
       |    ${dp("d", "d1")} AS n1, ${dp("d", "d2")} AS n2,
       |    ${dp("d", "d3")} AS n3, ${dp("d", "d4")} AS n4,
       |    ${dp("d", "d5")} AS n5, ${dp("d", "d6")} AS n6,
       |    ${dp("d", "d7")} AS n7
       |  FROM led GROUP BY event_type)
       |SELECT event_type, k AS lag,
       |  ROUND(CASE k WHEN 1 THEN n1 WHEN 2 THEN n2 WHEN 3 THEN n3
       |    WHEN 4 THEN n4 WHEN 5 THEN n5 WHEN 6 THEN n6 WHEN 7 THEN n7 END
       |    / den, 6) AS acf
       |FROM wide CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) t(k)
       |WHERE den > 0.0""".stripMargin
  }

  /** q168: day-of-week seasonal index — per event type, each weekday
    * slot's mean daily value over the gap-filled grid, as a ratio to the
    * type's overall daily mean (multiplicative seasonal index: 1.3 means
    * "this weekday runs 30% hot"). The decomposition step that belongs
    * BEFORE q127/q164 score a series — a strong weekly cycle otherwise
    * reads as seven changepoints a week. Weekday = epoch-day mod 7
    * (a fixed 7-phase axis; calendar alignment is a labeling concern,
    * the decomposition is phase-invariant).
    *
    * Float determinism: both means come from exact decimal sums over
    * the grid; the index is computed on exact integer counts and
    * decimal-backed doubles, one multiply and one divide in IEEE order.
    *
    * Scale shape: one corpus shuffle to daily totals; the grid and both
    * aggregates run on the bounded (type × day-span) frame, and the
    * per-type totals broadcast back onto the ≤ 7·|types| result.
    */
  def qSeasonalIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import Relational.dsum
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), expr(s"ts DIV $DayNs").as("day_idx"))
      .agg(dsum(col("value")).as("v"))
      .persist()
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day_idx")).as("mn"), max(col("day_idx")).as("mx"))
      .select(col("event_type"), explode(expr("sequence(mn, mx)")).as("day_idx"))
    val full = grid.join(daily, Seq("event_type", "day_idx"), "left")
      .na.fill(0.0, Seq("v"))
      .withColumn("dow", pmod(col("day_idx"), lit(7L)))
    val byDow = full.groupBy(col("event_type"), col("dow")).agg(
      count(lit(1)).as("n_days"),
      sum(col("v").cast(DecimalType(18, 6))).cast("double").as("s_dow"))
    val byType = full.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_all"),
      sum(col("v").cast(DecimalType(18, 6))).cast("double").as("s_all"))
    byDow.join(broadcast(byType), Seq("event_type"))
      .where(col("s_all") =!= 0.0)
      .select(col("event_type"), col("dow"), col("n_days"),
        round(col("s_dow") / col("n_days"), 6).as("mean_v"),
        round((col("s_dow") * col("n_all").cast("double"))
          / (col("n_days").cast("double") * col("s_all")), 6).as("seasonal_idx"))
  }

  val qSeasonalIndexSql: String = {
    import Relational.dsumSql
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ns(ts) // $DayNs AS day_idx,
       |    ${dsumSql("value")} AS v
       |  FROM events GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, unnest(generate_series(mn, mx)) AS day_idx
       |  FROM (SELECT event_type, MIN(day_idx) AS mn, MAX(day_idx) AS mx
       |        FROM daily GROUP BY 1)),
       |fullg AS (
       |  SELECT g.event_type, g.day_idx, g.day_idx % 7 AS dow,
       |    COALESCE(d.v, CAST(0 AS DOUBLE)) AS v
       |  FROM grid g LEFT JOIN daily d
       |    ON d.event_type = g.event_type AND d.day_idx = g.day_idx),
       |by_dow AS (
       |  SELECT event_type, dow, COUNT(*) AS n_days,
       |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s_dow
       |  FROM fullg GROUP BY 1, 2),
       |by_type AS (
       |  SELECT event_type, COUNT(*) AS n_all,
       |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s_all
       |  FROM fullg GROUP BY 1)
       |SELECT d.event_type, d.dow, d.n_days,
       |  ROUND(d.s_dow / d.n_days, 6) AS mean_v,
       |  ROUND((d.s_dow * CAST(t.n_all AS DOUBLE))
       |    / (CAST(d.n_days AS DOUBLE) * t.s_all), 6) AS seasonal_idx
       |FROM by_dow d JOIN by_type t ON t.event_type = d.event_type
       |WHERE t.s_all <> 0.0""".stripMargin
  }

  // ---------------------------------------------------------------- q178

  /** q178: run-length encoding of per-user event-type streams — collapse
    * consecutive repeats into runs (gaps-and-islands), then profile runs
    * per event type: how many, how long on average, the longest. The
    * compression/telemetry primitive for detecting stuck emitters and
    * repeat-flood sessions; also exactly the state-run shape q160's
    * Markov matrix abstracts away.
    *
    * Scale shape: windows partition by user_id (millions of independent
    * partitions — no global sort); the island id is one running sum per
    * user; run sizes aggregate on (user, island) then the bounded
    * event-type domain. Time axis is epoch-µs (the engine-portable axis
    * for this parquet) with event_id as total-order tiebreak.
    */
  def qEventRle(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts_utc")).as("us"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val runs = e
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      // <=> (null-safe equality) mirrors the oracle's IS DISTINCT FROM:
      // a NULL event_type following a NULL continues the run (and the
      // leading NULL prev still breaks against any non-null type).
      .withColumn("chg",
        when(!(col("prev") <=> col("event_type")), 1L).otherwise(0L))
      .withColumn("island", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"), col("event_type"))
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("run_len")).as("n_events"),
        max(col("run_len")).as("max_run"),
        round(sum(col("run_len")).cast("double") / count(lit(1)), 6).as("avg_run"))
  }

  val qEventRleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
      |m AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY us, event_id) IS DISTINCT FROM
      |        event_type
      |      THEN 1 ELSE 0 END AS chg,
      |    us, event_id
      |  FROM e),
      |i AS (
      |  SELECT user_id, event_type,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS UNBOUNDED PRECEDING) AS island
      |  FROM m),
      |runs AS (
      |  SELECT user_id, island, event_type, COUNT(*) AS run_len
      |  FROM i GROUP BY 1, 2, 3)
      |SELECT event_type, COUNT(*) AS n_runs,
      |  CAST(SUM(run_len) AS BIGINT) AS n_events,
      |  CAST(MAX(run_len) AS BIGINT) AS max_run,
      |  ROUND(CAST(SUM(run_len) AS DOUBLE) / COUNT(*), 6) AS avg_run
      |FROM runs GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q178_event_rle" -> (qEventRle _),
    "q164_cusum_changepoint" -> (qCusumChangepoint _),
    "q165_acf" -> (qAcf _),
    "q168_seasonal_index" -> (qSeasonalIndex _),
    "q153_interpolate_gaps" -> (qInterpolateGaps _),
    "q160_markov_transitions" -> (qMarkovTransitions _),
    "q161_kaplan_meier" -> (qKaplanMeier _),
    "q138_conversion_latency" -> (qConversionLatency _),
    "q57_range_join" -> (qRangeJoin _),
    "q58_asof_join" -> (qAsofJoin _),
    "q74_scd2_history" -> (qScd2History _),
    "q122_merge_upsert" -> (qMergeUpsert _),
    "q126_max_concurrency" -> (qMaxConcurrency _),
    "q128_event_pattern" -> (qEventPattern _),
    "q136_debounce" -> (qDebounce _))

  val oracle: Map[String, String] = Map(
    "q178_event_rle" -> qEventRleSql,
    "q164_cusum_changepoint" -> qCusumChangepointSql,
    "q165_acf" -> qAcfSql,
    "q168_seasonal_index" -> qSeasonalIndexSql,
    "q153_interpolate_gaps" -> qInterpolateGapsSql,
    "q160_markov_transitions" -> qMarkovTransitionsSql,
    "q161_kaplan_meier" -> qKaplanMeierSql,
    "q57_range_join" -> qRangeJoinSql,
    "q58_asof_join" -> qAsofJoinSql,
    "q74_scd2_history" -> qScd2HistorySql,
    "q122_merge_upsert" -> qMergeUpsertSql,
    "q126_max_concurrency" -> qMaxConcurrencySql,
    "q128_event_pattern" -> qEventPatternSql,
    "q136_debounce" -> qDebounceSql,
    "q138_conversion_latency" -> qConversionLatencySql)
}
