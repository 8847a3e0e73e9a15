package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Micro-semantics of the as-of core, independent of the testdata shape
  * (the driver oracle checks q57/q58 end-to-end on the real tables).
  */
class TemporalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("asofLatest: latest at-or-before, inclusive same-instant, none-before-first") {
    import spark.implicits._
    val build = Seq(
      (1L, 10L, "A"), (1L, 20L, "B"),
      (2L, 100L, "C")).toDF("k", "t_ns", "attr")
    val probe = Seq(
      (1L, 5L),   // before any build → null
      (1L, 10L),  // same instant → sees A
      (1L, 15L),  // between → A
      (1L, 25L),  // after both → B
      (2L, 99L),  // other key, before → null
      (3L, 50L)   // key with no builds → null
    ).toDF("k", "t_ns")
    val got = Temporal.asofLatest(build, probe).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(2))).toMap
    assert(got((1L, 5L)).isEmpty)
    assert(got((1L, 10L)).contains("A"))
    assert(got((1L, 15L)).contains("A"))
    assert(got((1L, 25L)).contains("B"))
    assert(got((2L, 99L)).isEmpty)
    assert(got((3L, 50L)).isEmpty)
  }

  test("scd2FromChanges: runs collapse, validity chains, open row has null valid_to") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), // same attr → one run
      (1L, 30L, 3L, "B"),                     // change → new version
      (1L, 40L, 4L, "A"),                     // back to A → THIRD version
      (2L, 5L, 1L, "X")).toDF("k", "t_ns", "seq", "attr")
    val got = Temporal.scd2FromChanges(changes).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got == Set(
      (1L, "A", 10L, Some(30L)),
      (1L, "B", 30L, Some(40L)),
      (1L, "A", 40L, None),
      (2L, "X", 5L, None)))
  }

  test("asofLatest: equal-time builds resolve deterministically (max attr)") {
    import spark.implicits._
    val build = Seq((1L, 10L, "X"), (1L, 10L, "Y")).toDF("k", "t_ns", "attr")
    val probe = Seq((1L, 11L)).toDF("k", "t_ns")
    val got = Temporal.asofLatest(build, probe).collect().head.getString(2)
    assert(got == "Y") // lexicographic history → max attr wins the tie
  }

  test("asofLatest returns the hand-computed rows on every branch of the as-of rule") {
    import spark.implicits._
    // crafted to hit every branch: same-instant build+probe, equal-time
    // build ties, probe-before-first, keys missing from either side,
    // null-attr builds (latest row for k=1 t=30 and the ONLY row for
    // k=5 — last-known-value semantics must skip both, not carry null)
    val build = Seq(
      (1L, 10L, Some("A")), (1L, 10L, Some("B")), (1L, 20L, Some("C")),
      (1L, 30L, None), (2L, 100L, Some("D")), (4L, 7L, Some("E")),
      (5L, 1L, None)).toDF("k", "t_ns", "attr")
    val probe = Seq(
      (1L, 5L), (1L, 10L), (1L, 15L), (1L, 20L), (1L, 99L),
      (2L, 99L), (2L, 100L), (3L, 50L), (5L, 2L)).toDF("k", "t_ns")
    val got = Temporal.asofLatest(build, probe).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted.toSeq
    assert(got == Seq(
      (1L, 5L, None),       // before the key's first build row
      (1L, 10L, Some("B")), // same instant, equal-time tie → max attr
      (1L, 15L, Some("B")),
      (1L, 20L, Some("C")),
      (1L, 99L, Some("C")), // the null-attr t=30 row is skipped
      (2L, 99L, None),
      (2L, 100L, Some("D")),
      (3L, 50L, None),      // key with no build rows
      (5L, 2L, None)))      // the key's only build attr is null
  }

  test("merge upsert resolves carry/update/insert/delete to the hand-computed rollup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString
    (1L to 20L).map(k => (k, "O", 10.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    // base = keys %10 != 9 (18 keys); D: {4,14}; I: {9,19}; U: {3,6,12,15,18}
    val got = Temporal.qMergeUpsert(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      "O" -> ((11L, 110L, 110.0)), // carried untouched
      "U" -> ((5L, 54L, 550.0)),   // 5 × (10 + 100)
      "N" -> ((2L, 28L, 20.0))))   // inserted 9 + 19 at payload price
  }

  test("max concurrency: per-day sweep + midnight carry matches the hand trace") {
    import spark.implicits._
    val H = 3600L * 1000 * 1000 * 1000 // one hour in NANOS (raw events.ts unit)
    val D = 24 * H
    // user 1: [d0 01:00, 01:10]; user 2: point at d0 01:05 (overlap → 2)
    // user 3: 23:00→d1 00:20 in <30m steps: ONE session spanning midnight
    // user 4: point at d1 00:10 (overlaps u3's carried session → 2)
    // user 5: [d2 02:00, 02:30]; user 6: point at d4 (leaves d3 empty → 0)
    val evs = Seq(
      (1L, 1 * H), (1L, 1 * H + H / 6),
      (2L, 1 * H + H / 12),
      (3L, 23 * H), (3L, 23 * H + H / 3), (3L, 23 * H + 2 * H / 3),
      (3L, D + H / 12), (3L, D + H / 3),
      (4L, D + H / 6),
      (5L, 2 * D + 2 * H), (5L, 2 * D + 2 * H + H / 2),
      (6L, 4 * D + H))
    val dir = java.nio.file.Files.createTempDirectory("graft_conc").toString
    evs.zipWithIndex.map { case ((u, ts), i) => (i.toLong, ts, u) }
      .toDF("event_id", "ts", "user_id")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qMaxConcurrency(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("debounce: previous-raw-event anchor, per (user, type) key, boundary inclusive") {
    import spark.implicits._
    val S = 1000L * 1000 * 1000 // 1s in nanos
    val dir = java.nio.file.Files.createTempDirectory("graft_deb").toString
    // (u1, click): 0s kept; 100s dropped (<300s); 400s kept (gap vs 100s = 300s, boundary)
    // (u1, view): single event kept — other key untouched
    Seq(
      (0L, 0L * S, 1L, "click"), (1L, 100L * S, 1L, "click"), (2L, 400L * S, 1L, "click"),
      (3L, 50L * S, 1L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qDebounce(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map("click" -> ((3L, 2L, 1L)), "view" -> ((1L, 1L, 0L))))
  }

  test("conversion latency: latest-prior-view anchor, no-view purchases excluded") {
    import spark.implicits._
    val S = 1000L * 1000 * 1000 // 1s in nanos
    val dir = java.nio.file.Files.createTempDirectory("graft_conv").toString
    // u1: view@0 -> purchase@10s (10s); view@100s, view@120s -> purchase@150s (30s)
    // u2: purchase with no prior view -> excluded
    Seq(
      (0L, 0L * S, 1L, "view"), (1L, 10L * S, 1L, "purchase"),
      (2L, 100L * S, 1L, "view"), (3L, 120L * S, 1L, "view"),
      (4L, 150L * S, 1L, "purchase"),
      (5L, 5L * S, 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val r = Temporal.qConversionLatency(spark, dir).collect().head
    // latencies {10s, 30s} in us: p50 = 20s, p90 = 28s (linear interp), max 30s
    assert(r.getLong(0) == 2L)
    assert(r.getDouble(1) == 20e6)
    assert(r.getDouble(2) == 28e6)
    assert(r.getLong(3) == 30L * 1000 * 1000)
  }

  test("event pattern: non-overlapping v..p conversions, no double-claimed purchase") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pat").toString
    // user 1: v c p v p -> "vcpvp": two conversions (each p claimed once)
    // user 2: p v v c   -> "pvvc": zero (no purchase after a view)
    val evs = Seq(
      (1L, "view"), (1L, "click"), (1L, "purchase"), (1L, "view"), (1L, "purchase"),
      (2L, "purchase"), (2L, "view"), (2L, "view"), (2L, "click"))
    evs.zipWithIndex.map { case ((u, t), i) => (i.toLong, i.toLong * 1000, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qEventPattern(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(2L -> ((1L, 5L)), 0L -> ((1L, 4L))))
  }

  test("q160 markov: counts per (from, to), probability normalized per from") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_markov").toString
    // u1: a->b->a (ts order, event_id tiebreak on equal ts); u2: b->a
    // transitions: (a,b)=1, (b,a)=2 -> P(b|a)=1.0, P(a|b)=1.0
    Seq((1L, 0L, 1L, "a", 0.0), (2L, 5L, 1L, "b", 0.0), (3L, 5L, 1L, "a", 0.0),
      (4L, 0L, 2L, "b", 0.0), (5L, 9L, 2L, "a", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qMarkovTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(("a", "b") -> ((1L, 1.0)), ("b", "a") -> ((2L, 1.0))))
  }

  test("q161 KM: censoring at the last observed day, NULL at S=0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    val day = 86400000000000L
    // u1: lifetime 5 days, last day 5 != global max 6 -> death at t=5
    // u3: single event on day 6 (global max) -> lifetime 0, censored
    Seq((1L, 0L, 1L, "a", 0.0), (2L, 5 * day, 1L, "a", 0.0),
      (3L, 6 * day, 3L, "a", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qKaplanMeier(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // t=0: n_risk=2, d=0, c=1 -> ln(1)=0; t=5: n_risk=1=d -> S=0 -> NULL
    assert(got(0L) == ((2L, 0L, 1L, Some(0.0))))
    assert(got(5L) == ((1L, 1L, 0L, None)))
  }

  test("q164 CUSUM: a mean step's peak lands on the change day") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum").toString
    val day = 86400000000000L
    // days 0..3 at 0, days 4..7 at 10: mean 5, sigma 5, z = -1 then +1;
    // CUSUM bottoms at -4 on day 3 (the last pre-shift day)
    val vals = Seq(0.0, 0.0, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0)
    vals.zipWithIndex.map { case (v, d) => (d.toLong, d * day, 1L, "t", v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val r = Temporal.qCusumChangepoint(spark, dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      == (("t", 8L, 3L, -4.0)))
  }

  test("q165 ACF: an alternating series has acf(k) = (n-k)*(-1)^k / n") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_acf").toString
    val day = 86400000000000L
    // +1/-1 alternating over 8 days: mean 0, den 8,
    // num(k) = (8-k) * (-1)^k -> acf = -7/8, 6/8, -5/8, ...
    val vals = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0)
    vals.zipWithIndex.map { case (v, d) => (d.toLong, d * day, 1L, "t", v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qAcf(spark, dir).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
    val want = (1 to 7).map(k =>
      k -> (8 - k) * (if (k % 2 == 1) -1.0 else 1.0) / 8).toMap
    assert(got == want)
  }

  test("q168 seasonal index: weekday slot means vs the overall mean") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_seas").toString
    val day = 86400000000000L
    // observed days 0, 7 (v=8 each) and 13 (v=1): grid = days 0..13,
    // dow0 mean 8, dow6 mean 0.5 (day 6 fills as 0), overall mean 17/14
    Seq((1L, 0L, 1L, "t", 8.0), (2L, 7 * day, 1L, "t", 8.0),
      (3L, 13 * day, 1L, "t", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qSeasonalIndex(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == (0L to 6L).toSet)
    assert(got(0L) == ((2L, 8.0, r6(8.0 * 14 / 17))))
    assert(got(6L) == ((2L, 0.5, r6(0.5 * 14 / 17))))
    assert(got(3L) == ((2L, 0.0, 0.0)))
  }

  test("q153 interpolation: straight line between observed days, flags set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_interp").toString
    val day = 86400000000000L
    // type t observed on days 0 (total 1.0) and 3 (total 7.0); days 1, 2
    // missing -> line through (0,1) and (3,7): 3.0 and 5.0
    Seq((1L, 0L, 1L, "t", 1.0), (2L, 3 * day, 1L, "t", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qInterpolateGaps(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3))).sortBy(_._1).toList
    assert(got == List((0L, 1.0, false), (1L, 3.0, true),
      (2L, 5.0, true), (3L, 7.0, false)))
  }
  test("q57 window range-frame join: boundary-exact, strict, negative-ts, null parity") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_range").toString
    val B = 300L * 1000 * 1000 * 1000 // BandNs (5 min)
    // every value-boundary of the rangeBetween(1, BandNs) frame is
    // exercised: exact-band pair (A->B kept: diff == B), just-over-band
    // (A->C excluded: diff == B+1), same-instant strictness (A,D both at
    // 0 -- range frames compare by VALUE, so the +1 lower bound excludes
    // ties in both directions), mid-band pairs (E with B and C), a
    // second user (F->G), a lone event (H) producing nothing, and user 6
    // on NEGATIVE (pre-epoch) timestamps -- the frame arithmetic is pure
    // value comparison, no epoch anchoring: M -> N0 (diff B-1), N0 -> N1
    // (diff B exact), N1 -> N2 (diff B-1), N0 -> N2 (diff 2B-1,
    // excluded).
    // Null parity with the oracle's plain range join: a null event_type
    // still pairs (types are output, not predicate) -> user 7's null at
    // ts 0 pairs forward with Z at 100 as (NULL, "Z"); null user_id or
    // null ts rows pair with nothing under `=`/`>` -> no output rows.
    val rows: Seq[(Option[Long], Option[Long], Option[String])] = Seq(
      (Some(1L), Some(0L), Some("A")), (Some(1L), Some(0L), Some("D")),
      (Some(1L), Some(B), Some("B")), (Some(1L), Some(B + 1), Some("C")),
      (Some(1L), Some(B - 1000000000L), Some("E")),
      (Some(4L), Some(100000000000L), Some("F")),
      (Some(4L), Some(200000000000L), Some("G")),
      (Some(5L), Some(7L * B), Some("H")),
      (Some(6L), Some(-2L * B), Some("M")), (Some(6L), Some(-B - 1L), Some("N0")),
      (Some(6L), Some(-1L), Some("N1")), (Some(6L), Some(B - 2L), Some("N2")),
      (Some(7L), Some(0L), None), (Some(7L), Some(100L), Some("Z")),
      (None, Some(0L), Some("Q")), (Some(8L), None, Some("R")))
    rows.toDF("user_id", "ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val got = Temporal.qRangeJoin(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(
      ("A", "B") -> 1L, ("A", "E") -> 1L, ("D", "B") -> 1L,
      ("D", "E") -> 1L, ("E", "B") -> 1L, ("E", "C") -> 1L,
      ("B", "C") -> 1L, ("F", "G") -> 1L,
      ("M", "N0") -> 1L, ("N0", "N1") -> 1L, ("N1", "N2") -> 1L,
      ((null, "Z")) -> 1L))
  }

  test("q57 property: window spelling matches brute-force pair counts on random corpora") {
    import spark.implicits._
    val B = 300L * 1000 * 1000 * 1000 // BandNs (5 min)
    val rnd = new scala.util.Random(13) // seeded: deterministic corpora
    (1 to 3).foreach { it =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_range_prop$it").toString
      // 300 events over 5 users and 4 types in a ~6-band span crossing
      // zero: dense in-band pairs, ties, negative ts, and ~2% nulls in
      // every column
      val rows: Seq[(Option[Long], Option[Long], Option[String])] =
        (1 to 300).map { _ =>
          val u = if (rnd.nextInt(50) == 0) None else Some(rnd.nextInt(5).toLong)
          val t = if (rnd.nextInt(50) == 0) None
                  else Some(rnd.nextLong() % (3 * B) - B)
          val ty = if (rnd.nextInt(10) == 0) None else Some("T" + rnd.nextInt(4))
          (u, t, ty)
        }
      rows.toDF("user_id", "ts", "event_type")
        .write.parquet(s"$dir/events.parquet")
      val got = Temporal.qRangeJoin(spark, dir).collect()
        .map(r => ((Option(r.getString(0)), Option(r.getString(1))), r.getLong(2)))
        .toMap
      // brute force over row instances: the oracle's plain range-join
      // semantics (null user/ts pair with nothing; null type is output)
      val valid = rows.collect { case (Some(u), Some(t), ty) => (u, t, ty) }
      val expected = (for {
        (ua, ta, tya) <- valid
        (ub, tb, tyb) <- valid
        if ua == ub && tb > ta && tb - ta <= B
      } yield (tya, tyb))
        .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      assert(got == expected, s"iteration $it mismatch")
    }
  }

  test("q57 routes past the type budget to the bucketed-join spelling, same rows") {
    import spark.implicits._
    val B = 300L * 1000 * 1000 * 1000 // BandNs (5 min)
    // 80 distinct event types exceed the 64-type counter-column budget —
    // the plan must switch to the band-bucketed join (type-cardinality-
    // indifferent) and still match brute force exactly
    val dir = java.nio.file.Files.createTempDirectory("graft_range_wide").toString
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { _ =>
      (rnd.nextInt(4).toLong, rnd.nextLong() % (2 * B), "T" + rnd.nextInt(80))
    }
    rows.toDF("user_id", "ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val df = Temporal.qRangeJoin(spark, dir)
    assert(df.queryExecution.executedPlan.toString.contains("Join"),
      "past the budget q57 must plan the bucketed join, not 80 counter columns")
    val got = df.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val expected = (for {
      (ua, ta, tya) <- rows
      (ub, tb, tyb) <- rows
      if ua == ub && tb > ta && tb - ta <= B
    } yield (tya, tyb))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    assert(got == expected)
  }

  test("q57 window range-frame join: empty events table yields empty result") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_range_empty").toString
    Seq.empty[(Option[Long], Option[Long], Option[String])]
      .toDF("user_id", "ts", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val out = Temporal.qRangeJoin(spark, dir)
    assert(out.columns.toSeq == Seq("type_a", "type_b", "n_pairs"))
    assert(out.count() == 0)
  }
}
