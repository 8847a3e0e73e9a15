package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Checkpoint-recovery gates (VERDICT r11 #7): the one streaming behavior
  * the parity twins don't pin is what happens when a query DIES and is
  * resumed from its checkpoint — state-store restore for stateful dedup,
  * and buffered-row restore for the stream-stream interval join. Each test
  * runs phase 1 to completion (Trigger.AvailableNow drains what's there
  * and stops — the controlled stand-in for a crash after a commit), drops
  * more files into the source, restarts THE SAME query from THE SAME
  * checkpoint, and asserts exactly-once semantics across the boundary:
  * nothing re-emitted, nothing lost, cross-phase state intact.
  *
  * Planted input (not the sf tables): recovery needs controlled
  * timestamps — sf0.001 has zero same-user 5-minute pairs spanning any
  * time split, so a table-driven test would pass vacuously.
  */
class RecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Render a synthetic events frame (`ts` = nanos BIGINT, the post-load
    * contract) into a single parquet FILE under `streamDir`, encoded with
    * the RAW on-disk schema of the canonical events table — whatever the
    * current drop uses — so [[Tables.loadStream]]'s schema application
    * reads it exactly like a generator file.
    */
  private def writeRawFile(nanos: DataFrame, streamDir: String, name: String): Unit = {
    val raw = Tables.rawSchema(spark, dir, "events")
    val cols = raw.fields.map { f =>
      val c =
        if (f.name == "ts" && f.dataType == LongType) col("ts")
        else if (f.name == "ts") expr("timestamp_micros(ts DIV 1000)").cast(f.dataType)
        else col(f.name).cast(f.dataType)
      c.as(f.name)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_raw_write").toString
    nanos.select(cols.toIndexedSeq: _*).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$streamDir/$name"))
  }

  // timeline base well away from epoch 0: a row AT the initial watermark
  // (epoch) is dropped as late by the join's pre-filter — a planted-data
  // artifact, not a recovery property
  private val BaseNanos = 1700000000000000000L

  /** user 1..5, one event per minute `m` for m in [fromMin, untilMin). */
  private def planted(fromMin: Int, untilMin: Int, idBase: Long): DataFrame = {
    import spark.implicits._
    (for {
      u <- 1 to 5
      m <- fromMin until untilMin
    } yield (idBase + u * 1000L + m, BaseNanos + m * 60L * 1000000000L, u.toLong,
      if (m % 2 == 0) "view" else "click", m.toDouble, s"{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("stateful dedup survives a kill-and-resume: redelivery suppressed, new rows pass") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_rec_dedup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rec_dedup_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rec_dedup_out").toString

    val phaseA = planted(0, 10, idBase = 0)
    writeRawFile(phaseA, streamDir, "a.parquet")
    def run(): Unit = {
      val stream = Tables.loadStream(spark, dir, "events", streamDir,
        Map("maxFilesPerTrigger" -> "1")) // every file its own micro-batch
      val q = Events.dedupEvents(stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run() // phase 1: 50 events committed, query stops (the "crash")
    assert(spark.read.parquet(out).count() == 50)

    // phase 2: the SAME file content redelivered under a new name (an
    // at-least-once source re-sending a committed batch) plus one file of
    // genuinely new events
    writeRawFile(phaseA, streamDir, "b.parquet")
    writeRawFile(planted(0, 10, idBase = 1000000L), streamDir, "c.parquet")
    run() // resume from the checkpoint

    val rows = spark.read.parquet(out)
    // 50 originals + 50 new; the 50 redelivered MUST be suppressed by the
    // RECOVERED dedup state — a fresh state store would re-emit them (150)
    assert(rows.count() == 100, s"got ${rows.count()} rows after resume")
    assert(rows.select("event_id").distinct().count() == 100)
  }

  test("stream-stream interval join survives a kill-and-resume: cross-phase pairs emerge from recovered state") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_rec_ssj").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rec_ssj_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rec_ssj_out").toString

    val phaseA = planted(0, 10, idBase = 0)   // minutes 0..9
    val phaseB = planted(10, 20, idBase = 0)  // minutes 10..19
    def run(): Unit = {
      val stream = Tables.loadStream(spark, dir, "events", streamDir)
        .withColumn("ts_utc", expr("timestamp_micros(ts DIV 1000)"))
      val q = Events.pairsWithinBand(stream, stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    writeRawFile(phaseA, streamDir, "a.parquet")
    run() // phase 1 commits intra-A pairs, buffers A's tail in join state
    writeRawFile(phaseB, streamDir, "b.parquet")
    run() // resume: B joins against RECOVERED A-side state

    val got = spark.read.parquet(out)
      .groupBy(col("type_a"), col("type_b")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchDf = phaseA.union(phaseB)
      .withColumn("ts_utc", expr("timestamp_micros(ts DIV 1000)"))
    val want = Events.pairsWithinBand(batchDf, batchDf)
      .groupBy(col("type_a"), col("type_b")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    if (got != want) {
      val gotPairs = spark.read.parquet(out)
        .select(col("user_a"), unix_micros(col("t_a")), unix_micros(col("t_b")))
        .collect().map(r => (r.getLong(0), r.getLong(1) / 60000000, r.getLong(2) / 60000000)).toSet
      val wantPairs = Events.pairsWithinBand(batchDf, batchDf)
        .select(col("user_a"), unix_micros(col("t_a")), unix_micros(col("t_b")))
        .collect().map(r => (r.getLong(0), r.getLong(1) / 60000000, r.getLong(2) / 60000000)).toSet
      println("MISSING (user, minA, minB): " + (wantPairs -- gotPairs).toSeq.sorted.mkString(", "))
      println("EXTRA: " + (gotPairs -- wantPairs).toSeq.sorted.mkString(", "))
    }
    assert(got == want, s"streamed $got != batch $want")

    // non-vacuity: pairs that SPAN the phase boundary (t_a in phase A,
    // t_b in phase B) exist and were only reachable through restored
    // join state — a fresh state store would lose every one of them
    val boundaryUs = BaseNanos / 1000 + 10L * 60 * 1000000
    val crossing = spark.read.parquet(out)
      .where(unix_micros(col("t_a")) < boundaryUs &&
        unix_micros(col("t_b")) >= boundaryUs)
      .count()
    assert(crossing > 0, "no cross-phase pairs — recovery not exercised")
  }

  test("running percentiles survive a kill-and-resume: KLL state restores, counts span phases") {
    // sketch state (a KLL sketch buffer per key, not a scalar) is the
    // likeliest recovery bug site — a corrupt or dropped restore shows up
    // as a reset count or shifted quantiles.
    val streamDir = java.nio.file.Files.createTempDirectory("graft_rec_kll").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rec_kll_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rec_kll_out").toString

    def run(): Unit = {
      val stream = Tables.loadStream(spark, dir, "events", streamDir)
      // a streaming aggregation in Update output mode →
      // foreachBatch (sink-agnostic) appends each batch's emissions
      val q = Events.runningValuePercentiles(stream).toDF()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    writeRawFile(planted(0, 10, idBase = 0), streamDir, "a.parquet")
    run() // phase 1: 25 views + 25 clicks absorbed into per-type sketches
    writeRawFile(planted(10, 20, idBase = 1000000L), streamDir, "b.parquet")
    run() // resume: phase 2 values must land in the RECOVERED sketches

    // the LAST emission per type (max n) reflects everything seen; 50
    // values per type stay far below the k=256 compaction threshold, so
    // the sketch is exact and order-independent — compare against the
    // exact inclusive-rank quantiles of both phases' values
    val last = spark.read.parquet(out)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc)))
      .where(col("rk") === 1)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("p50"), r.getAs[Double]("p95")))
      .toMap
    Seq("view" -> (0 until 20 by 2), "click" -> (1 until 20 by 2)).foreach {
      case (et, minutes) =>
        val values = for (_ <- 1 to 5; m <- minutes) yield m.toDouble
        val sorted = values.sorted
        // inclusive rank: the smallest value with at least p·n values <= it
        val wantQ = Seq(0.5, 0.95).map(p => sorted(math.ceil(p * sorted.size).toInt - 1))
        val (n, p50, p95) = last(et)
        // a FRESH state store would report n = 25 (phase 2 only), not
        // the recovered 50 (25 per phase per type)
        assert(n == values.size.toLong, s"$et count $n — sketch state not recovered")
        assert(p50 == wantQ(0) && p95 == wantQ(1),
          s"$et quantiles ($p50, $p95) != exact (${wantQ(0)}, ${wantQ(1)})")
    }
  }

  test("debounce survives a kill-and-resume: recovered anchors suppress phase-2 echoes") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_rec_deb").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rec_deb_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rec_deb_out").toString

    def run(): Unit = {
      val stream = Tables.loadStream(spark, dir, "events", streamDir)
      val q = Events.debounceStream(stream).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // per (user, type) key: events every 2 minutes against a 5-minute
    // gap — only the key's FIRST event survives; every later event is
    // <5 min after the previous RAW event (which still moves the anchor)
    writeRawFile(planted(0, 10, idBase = 0), streamDir, "a.parquet")
    run() // phase 1: anchors end at minute 8 (view) / 9 (click) per user
    writeRawFile(planted(10, 20, idBase = 1000000L), streamDir, "b.parquet")
    run() // resume: minute-10/11 events are 2 min after RECOVERED anchors

    val got = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).toSet
    // expected: exactly the phase-1 first event per (user, type) key —
    // ids u*1000 + 0 (view) and u*1000 + 1 (click)
    val want = (1 to 5).flatMap(u => Seq(u * 1000L, u * 1000L + 1)).toSet
    assert(got == want, s"got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
    // non-vacuity: a FRESH state store would emit the first phase-2
    // event of every key (minute 10/11, ids 1000000 + u*1000 + 10/11) —
    // their absence is the recovered-anchor proof
    val freshWouldEmit = (1 to 5).flatMap(u =>
      Seq(1000000L + u * 1000L + 10, 1000000L + u * 1000L + 11)).toSet
    assert(got.intersect(freshWouldEmit).isEmpty,
      "phase-2 echoes emitted — debounce anchors not recovered")
  }
}
