package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Pipeline, Session}
import graft.gold.GoldSql
import graft.parse.Silver
import graft.sources.Writers

/** Runs one workload against the engine on `local[4]` and prints the
  * result as one JSON line (see README.md). Every layer is called through
  * its public entry point; nothing inside the engine is instrumented.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, corpus: String, fingerprints: Path, draws: Int, prizes: Int,
      launchedMs: Long, record: Option[Path])

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, get("corpus"), Paths.get(get("fingerprints")),
      get("draws").toInt, get("prizes").toInt,
      kv.get("launched-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      kv.get("record-fingerprints").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val spark = Session.builder("local[4]", 4)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startupS = (System.currentTimeMillis() - a.launchedMs) / 1000.0
    val bench = new Bench(spark, a, startupS)
    val out = try bench.run() finally spark.stop()
    println(out.detailJson)
    println(out.resultJson)
  }
}

/** Counts of attempted and failed operations and checks, with the first
  * few failure messages kept for the detail line.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  private def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
  }

  /** Run an operation; a throw counts as a failure and yields None. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
        None
    }
  }

  /** Run a check; any problem it reports, or a throw, is a failure. */
  def check(what: String)(problems: => Seq[String]): Unit = {
    attempted += 1
    try problems.headOption.foreach(p => fail(s"$what: $p"))
    catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}

final case class Result(resultJson: String, detailJson: String)

final class Bench(spark: SparkSession, a: Main.Args, startupS: Double) {
  import Bench._

  private val sc = spark.sparkContext
  private val outcome = new Outcome
  private val blocks = new BlockMeter
  private val jobs = new JobMeter
  sc.addSparkListener(blocks)

  /** Per-layer values of each traced operation, folded to medians. */
  private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(m: Map[String, Double]): Unit =
    m.foreach { case (k, v) => layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val detail = mutable.LinkedHashMap.empty[String, Any]

  private def force(df: org.apache.spark.sql.Dataset[_]): Long = df.queryExecution.toRdd.count()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` with the job listener attached; returns its result, its
    * start and end on the `nanoTime` clock, and the jobs it ran.
    */
  private def withJobs[T](body: => T): (T, Long, Long, Seq[JobRecord]) = {
    JobMeter.flush(sc)
    jobs.drain()
    sc.addSparkListener(jobs)
    try {
      val t0 = System.nanoTime()
      val out = body
      val t1 = System.nanoTime()
      JobMeter.flush(sc)
      (out, t0, t1, jobs.drain())
    } finally sc.removeSparkListener(jobs)
  }

  private def fresh(p: Path): Path = {
    deleteTree(p)
    Files.createDirectories(p)
  }

  /** A workload's set-up: `prepare` (writing the generated inputs) runs
    * `Setups` times and its median counts; `once` (building the state the
    * workload starts from, which also warms the JVM) runs on the last
    * prepared inputs and counts in full, as does the JVM and session
    * start. Returns what `once` returns and the set-up seconds.
    */
  private def setUp[T, U](prepare: Int => T)(once: T => U): (U, Double) = {
    val runs = (0 until Setups).map(i => timed(prepare(i)))
    val (state, onceS) = timed(once(runs.last._1))
    detail ++= Map("startup_s" -> startupS, "prepare_s" -> median(runs.map(_._2)), "once_s" -> onceS)
    (state, startupS + median(runs.map(_._2)) + onceS)
  }

  /** Generated history of `a.draws` draws in a fresh `raw-i` directory
    * under `dir` (the previous repetition's copy is removed).
    */
  private def prepareHistory(dir: String, out: String)(i: Int): Lake = {
    deleteTree(a.work.resolve(s"$dir/raw-${i - 1}"))
    val raw = fresh(a.work.resolve(s"$dir/raw-$i"))
    val (draws, bytes) = writeHistory(raw, a.draws)
    Lake(raw, a.work.resolve(out), draws, bytes)
  }

  def run(): Result = {
    val e2e = a.workload match {
      case "backfill" => backfill()
      case "weekly" => weekly()
      case "analyst" => analyst()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e :+ (("success_ratio",
        (outcome.attempted - outcome.failed).toDouble / math.max(1L, outcome.attempted), "ratio"))
      else layerMetrics()
    if (a.trace) {
      Files.write(a.work.getParent.resolve(s"spans-${a.workload}-${a.seed}.jsonl"),
        Trace.toJsonLines(spans.toSeq).getBytes("UTF-8"))
    }
    val correct = outcome.failed == 0 && outcome.attempted > 0
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val result = s"""{"correct":$correct,"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":{${body.mkString(",")}}}"""
    detail("problems") = outcome.problems.toList
    Result(result, "{\"detail\":" + Bench.json(detail.toMap) + "}")
  }

  // ---------------------------------------------------------------- pipeline

  private def writeHistory(raw: Path, n: Int): (Vector[DrawGen.Draw], Long) = {
    val draws = Vector.tabulate(n)(i => DrawGen.draw(a.seed, i, a.prizes))
    (draws, draws.map(DrawGen.write(raw, _)).sum)
  }

  private def checkParse(draws: Seq[DrawGen.Draw]): Unit =
    outcome.check(s"parse of ${draws.size} generated files")(draws.flatMap(Truth.parseProblems))

  /** One `Pipeline.run`, traced or not. Returns its wall time. */
  private def pipelineOp(l: Lake, traced: Boolean, tag: String): Option[(Map[String, Long], Double)] =
    outcome.op(s"Pipeline.run $tag") {
      if (!traced) timed(Pipeline.run(spark, DrawGen.glob(l.raw), l.out.toString))
      else {
        probeParse(l)
        val ((counts, events), t0, t1, js) = withJobs(LogCapture.around(
          Pipeline.run(spark, DrawGen.glob(l.raw), l.out.toString)))
        sample(pipelineLayers(tag, l.out, t0, t1, events, js))
        (counts, (t1 - t0) / 1e9)
      }
    }

  /** The bronze layer's three entry points timed one by one on the input
    * the next `Pipeline.run` will see: the whole-text scan, the
    * already-processed skip, and the parse of what is left.
    */
  private def probeParse(l: Lake): Unit = {
    val raw = Silver.rawDraws(spark, DrawGen.glob(l.raw)).persist()
    val (files, scanS) = timed(force(raw))
    val kept = Silver.skipProcessed(raw,
      Silver.processedSorteos(spark, s"${l.out}/silver/sorteos")).persist()
    val (_, skipS) = timed(force(kept))
    val draws = Silver.parseDraws(kept)
    val (parsed, parseS) = timed(force(draws))
    val rows = force(Silver.premios(draws))
    kept.unpersist()
    raw.unpersist()
    sample(Map("parse.scan_s" -> scanS, "parse.skip_s" -> skipS, "parse.parse_s" -> parseS,
      "parse.files_scanned" -> files.toDouble, "parse.draws_parsed" -> parsed.toDouble,
      "parse.rows_parsed" -> rows.toDouble,
      "parse.useful_ratio" -> (if (files == 0) 0.0 else parsed.toDouble / files)))
  }

  /** Layer of a job submitted inside `Pipeline.run`, from its call site and
    * from whether it started before or during the gold phase. A gold
    * table's plan executes inside its write job, so gold-phase writes count
    * as gold work; `sources.gold_write_s` still reports their duration.
    */
  private def pipelineLayer(j: JobRecord, goldStartMs: Long): String =
    if (j.startMs >= goldStartMs) {
      if (j.site.contains("Writers.scala")) "gold.write"
      else if (j.site.contains("Pipeline.scala")) "gold.readback"
      else "gold"
    }
    else if (j.site.contains("Writers.scala") || j.site.startsWith("parquet at")) "sources"
    else "parse"

  private def pipelineLayers(tag: String, out: Path, t0: Long, t1: Long, events: Seq[LogEvent],
      js: Seq[JobRecord]): Map[String, Double] = {
    val run = s"${a.workload}-${a.seed}-$tag"
    val root = Span(run, "Pipeline.run", "pipeline", t0, t1, 0, "")
    val logSpans = events.collect {
      case e if e.event == "silver_write" =>
        Span(run, "silver_write", "sources", e.atNs - e.elapsedNs, e.atNs, 1, root.name)
      case e if e.event == "gold_build" =>
        Span(run, e.fields.getOrElse("table", "gold"), "gold", e.atNs - e.elapsedNs, e.atNs, 1,
          root.name)
    }
    val goldSpans = logSpans.filter(_.layer == "gold")
    val goldStart = if (goldSpans.isEmpty) Long.MaxValue else goldSpans.map(_.startNs).min
    val goldStartMs = if (goldSpans.isEmpty) Long.MaxValue
      else (goldStart - Trace.msToNanoOffset) / 1000000L
    val jobSpans = js.map { j =>
      val layer = pipelineLayer(j, goldStartMs)
      (j, layer, Trace.jobSpan(run, j, layer.takeWhile(_ != '.'), root.name))
    }
    val all = root +: (logSpans ++ jobSpans.map(_._3))
    spans ++= all
    val self = Trace.selfTimes(all)
    val perTable = goldSpans.map(s => s"gold.${s.name.stripPrefix("gold_")}_s" -> s.seconds)
    def jobSeconds(p: ((JobRecord, String, Span)) => Boolean) = jobSpans.filter(p).map(_._3.seconds).sum
    Map(
      "pipeline.self_s" -> self.getOrElse("pipeline", 0.0),
      "parse.self_s" -> self.getOrElse("parse", 0.0),
      "sources.self_s" -> self.getOrElse("sources", 0.0),
      "gold.self_s" -> self.getOrElse("gold", 0.0),
      "sources.silver_write_s" -> logSpans.filter(_.name == "silver_write").map(_.seconds).sum,
      "sources.gold_write_s" -> jobSeconds(_._2 == "gold.write"),
      "gold.readback_s" -> jobSeconds(_._2 == "gold.readback"),
      "gold.phase_s" -> Trace.unionSeconds(goldSpans)) ++ perTable ++
      counters(jobSpans.map { case (j, l, _) => l.takeWhile(_ != '.') -> j }) ++
      lakeFiles(out)
  }

  /** RDD blocks newly stored per operation (per panel round on `analyst`). */
  private var fillsPerOp = 0.0

  private def lakeFiles(out: Path): Map[String, Double] = {
    val (sf, sb) = dataFiles(out.resolve("silver"))
    val (gf, gb) = dataFiles(out.resolve("gold"))
    Map("sources.silver_files" -> sf.toDouble, "sources.silver_bytes" -> sb.toDouble,
      "sources.gold_files" -> gf.toDouble, "sources.gold_bytes" -> gb.toDouble)
  }

  private def lakeRatio(l: Lake): Double = {
    val (_, sb) = dataFiles(l.out.resolve("silver"))
    val (_, gb) = dataFiles(l.out.resolve("gold"))
    (sb + gb).toDouble / l.rawBytes
  }

  /** Full check of a finished lake against the generator's rows. */
  private def checkLake(l: Lake, draws: Seq[DrawGen.Draw], tables: Seq[String]): Unit = {
    val truth = draws.map(_.truth)
    outcome.check("silver row counts") {
      val so = spark.read.parquet(s"${l.out}/silver/sorteos")
      val pr = spark.read.parquet(s"${l.out}/silver/premios")
      val (nSo, nPr) = (so.count(), pr.count())
      val want = truth.map(_.premios.size).sum
      (if (nSo != truth.size) Seq(s"$nSo sorteos rows, expected ${truth.size}") else Nil) ++
        (if (nPr != want) Seq(s"$nPr premios rows, expected $want") else Nil) ++
        (if (so.select("numero_sorteo").distinct().count() != nSo) Seq("duplicate sorteos") else Nil)
    }
    tables.foreach { t =>
      outcome.check(t)(Truth.goldProblems(t, spark.read.parquet(s"${l.out}/gold/$t").collect().toSeq, truth))
    }
  }

  /** End-to-end metrics of a pipeline workload from its op times, in run
    * order: the first op is the cold one (first run in the process after
    * set-up), the rest are warm.
    */
  private def pipelineMetrics(times: Seq[Double], lake: Double, setupS: Double,
      peakBytes: Long): Seq[(String, Double, String)] =
    Seq(("setup_s", setupS, "s"),
      ("warm_s", median(times.drop(1)), "s"), ("cold_s", times.headOption.getOrElse(Double.NaN), "s"),
      ("lake_bytes_per_raw_byte", lake, "ratio"), ("cache_peak_mb", peakBytes / 1e6, "MB"))

  /** Ops a pipeline workload runs: at least two, so there is a warm one,
    * and at least three when traced, so traced and untraced warm ops can be
    * compared; then as many as start within `a.seconds`.
    */
  private def moreOps(k: Int, t0: Long): Boolean =
    k < (if (a.trace) 3 else 2) || (System.nanoTime() - t0) / 1e9 < a.seconds

  /** Traced runs trace every other warm op; the untraced ones between
    * them give the tracing overhead.
    */
  private def tracedOp(k: Int): Boolean = a.trace && k % 2 == 1

  /** The measured loop of a pipeline workload: `next(k)` writes op `k`'s
    * input and names its lake, `check` verifies the op's output. Each op
    * starts after `clearCache`. Returns the op times in run order and the
    * peak cache storage during the loop.
    */
  private def pipelineLoop(next: Int => Lake)(check: (Int, Lake) => Unit): (Seq[Double], Long) = {
    val times = mutable.ArrayBuffer.empty[Double]
    val (traced, untraced) = (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
    blocks.resetPeak()
    val fills0 = blocks.fills
    val t0 = System.nanoTime()
    var k = 0
    while (moreOps(k, t0)) {
      val l = next(k)
      spark.catalog.clearCache()
      pipelineOp(l, tracedOp(k), s"op$k").foreach { case (counts, s) =>
        times += s
        if (k > 0) (if (tracedOp(k)) traced else untraced) += s
        outcome.check(s"op$k gold row counts") {
          val n = counts.get("gold_draw_summary")
          if (n.contains(l.draws.size.toLong)) Nil else Seq(s"gold_draw_summary rows $n")
        }
        check(k, l)
      }
      k += 1
    }
    fillsPerOp = (blocks.fills - fills0).toDouble / k
    if (a.trace) sample(Map("trace.overhead_ratio" -> median(traced.toSeq) / median(untraced.toSeq)))
    detail("op_s") = times.toList
    (times.toSeq, blocks.peakBytes)
  }

  /** `Pipeline.run` over the whole history into an empty output root, again
    * and again; the first run is also the first in the process, as for a
    * one-off backfill job.
    */
  private def backfill(): Seq[(String, Double, String)] = {
    val (raw, setupS) = setUp(prepareHistory("backfill", "backfill/out"))(identity)
    checkParse(raw.draws)
    var lake = 0.0
    val (times, peak) = pipelineLoop { k =>
      deleteTree(a.work.resolve(s"backfill/out-${k - 1}"))
      raw.copy(out = fresh(a.work.resolve(s"backfill/out-$k")))
    } { (k, l) =>
      checkLake(l, raw.draws, if (k == 0) Panel.goldTables else Seq("gold_draw_summary"))
      if (k == 0) lake = lakeRatio(l)
    }
    val rows = raw.draws.map(_.truth.premios.size).sum
    detail ++= Map("draws" -> a.draws, "premios_rows" -> rows, "raw_bytes" -> raw.rawBytes,
      "rows_per_s" -> rows / median(times))
    pipelineMetrics(times, lake, setupS, peak)
  }

  /** One new draw file lands, then `Pipeline.run` appends it to silver and
    * rebuilds the seven gold tables; the history is built in set-up.
    */
  private def weekly(): Seq[(String, Double, String)] = {
    val (lake0, setupS) = setUp(prepareHistory("weekly", "weekly/out")) { l =>
      Pipeline.run(spark, DrawGen.glob(l.raw), fresh(l.out).toString)
      l
    }
    checkParse(lake0.draws)
    checkLake(lake0, lake0.draws, Seq("gold_draw_summary"))
    var l = lake0
    val (times, peak) = pipelineLoop { k =>
      val d = DrawGen.draw(a.seed, a.draws + k, a.prizes)
      checkParse(Seq(d))
      val bytes = DrawGen.write(l.raw, d)
      l = l.copy(draws = l.draws :+ d, rawBytes = l.rawBytes + bytes)
      l
    } { (k, l) =>
      outcome.check(s"op$k gold_draw_summary")(Truth.goldProblems("gold_draw_summary",
        spark.read.parquet(s"${l.out}/gold/gold_draw_summary").collect().toSeq, l.draws.map(_.truth)))
    }
    checkLake(l, l.draws, Panel.goldTables)
    detail ++= Map("history_draws" -> a.draws,
      "premios_rows" -> l.draws.map(_.truth.premios.size).sum)
    pipelineMetrics(times, lakeRatio(l), setupS, peak)
  }

  // ----------------------------------------------------------------- analyst

  private def expectedFingerprints(): Map[String, (Long, String)] =
    if (!Files.exists(a.fingerprints)) Map.empty
    else {
      val re = "\"([^\"]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"([0-9a-f]+)\"".r
      re.findAllMatchIn(new String(Files.readAllBytes(a.fingerprints), "UTF-8"))
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
    }

  /** The analyst's ops over the silver of `lake` and the operator corpus,
    * and the fingerprints their checks record.
    */
  private def analystOps(lake: Lake): (Seq[Op], mutable.Map[String, (Long, String)]) = {
    val sorteos = spark.read.parquet(s"${lake.out}/silver/sorteos")
    val premios = spark.read.parquet(s"${lake.out}/silver/premios")
    Writers.registerSilver(sorteos, premios)
    val facade = new graft.analytics.LotteryAnalytics(sorteos, premios)
    val truth = lake.draws.map(_.truth)
    val expected = expectedFingerprints()
    val recorded = mutable.LinkedHashMap.empty[String, (Long, String)]
    val panel = Panel.queries.map { q =>
      Op(q.name, q.module, () => q.build(spark, a.corpus), rows => {
        val fp = Truth.fingerprint(rows)
        recorded(q.name) = fp
        expected.get(q.name) match {
          case _ if a.record.isDefined => Nil
          case None => Seq("no recorded fingerprint")
          case Some(want) if want != fp => Seq(s"fingerprint $fp, recorded $want")
          case _ => Nil
        }
      })
    }
    val facadeOps = Panel.facade.map { case (n, f) =>
      Op(n, "analytics", () => f(facade), rows => Truth.facadeProblems(n, rows, truth))
    }
    val goldOps = Panel.goldTables.map { t =>
      Op(t, "gold", () => GoldSql.run(spark, t), rows => Truth.goldProblems(t, rows, truth))
    }
    (panel ++ facadeOps ++ goldOps, recorded)
  }

  /** Read-only panel over the operator corpus plus the facade and the gold
    * SQL over the generated silver, in a fixed order, round after round:
    * each op runs after `clearCache`, then once more warm. Its first run
    * in the process is its cold time. Every run collects the result, as an
    * analyst would, and checks it.
    */
  private def analyst(): Seq[(String, Double, String)] = {
    val ((ops, recorded, lake), setupS) = setUp(prepareHistory("analyst", "analyst/out")) { l =>
      import spark.implicits._
      val truth = l.draws.map(_.truth)
      Writers.writeSilverPartitioned(truth.map(_.sorteo).toDS().toDF(), s"${fresh(l.out)}/silver/sorteos")
      Writers.writeSilverPartitioned(truth.flatMap(_.premios).toDS().toDF(), s"${l.out}/silver/premios")
      val (ops, recorded) = analystOps(l)
      (ops, recorded, l)
    }
    checkParse(lake.draws)
    val cold = mutable.HashMap.empty[String, Double]
    val warm, untracedWarm = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    blocks.resetPeak()
    val fills0 = blocks.fills
    val t0 = System.nanoTime()
    var round = 0
    while (round < 1 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val roundCounters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      for ((o, i) <- ops.zipWithIndex) {
        def run(kind: String, traced: Boolean): Option[Double] = outcome.op(s"${o.name} $kind") {
          val (rows, secs) =
            if (!traced) timed(o.build().collect().toSeq)
            else {
              val (rows, t, t1, js) = withJobs(o.build().collect().toSeq)
              val run = s"${a.workload}-${a.seed}-r$round-$kind"
              spans += Span(run, o.name, o.layer, t, t1, 0, "")
              spans ++= js.map(j => Trace.jobSpan(run, j, o.layer, o.name))
              if (kind == "warm") counters(js.map(j => layerGroup(o.layer) -> j)).foreach {
                case (k, v) => roundCounters(k) += v
              }
              (rows, (t1 - t) / 1e9)
            }
          outcome.check(s"${o.name} $kind result")(o.check(rows))
          secs
        }
        spark.catalog.clearCache()
        run("cold", a.trace).foreach(s => if (round == 0) cold(o.name) = s)
        // one warm run; a traced run makes two, traces one of them,
        // alternating which from op to op, and keeps the other for the
        // tracing overhead
        for (rep <- 0 until (if (a.trace) 2 else 1)) {
          val traced = a.trace && rep == i % 2
          run(if (traced || !a.trace) "warm" else "untraced", traced).foreach { s =>
            (if (a.trace && !traced) untracedWarm else warm)
              .getOrElseUpdate(o.name, mutable.ArrayBuffer.empty) += s
          }
        }
      }
      if (a.trace) sample(roundCounters.toMap)
      round += 1
    }
    fillsPerOp = (blocks.fills - fills0).toDouble / round
    val peak = blocks.peakBytes
    a.record.foreach { p =>
      val body = recorded.toSeq.sortBy(_._1).map { case (n, (r, h)) =>
        s"""  "$n": {"rows": $r, "hash": "$h"}"""
      }
      Files.write(p, body.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    }
    def medians(m: mutable.HashMap[String, mutable.ArrayBuffer[Double]]) =
      m.map { case (k, v) => k -> median(v.toSeq) }.toMap
    val warmMed = medians(warm)
    def layerSum(m: collection.Map[String, Double], layer: String) =
      ops.filter(_.layer == layer).flatMap(o => m.get(o.name)).sum
    if (a.trace) {
      val layers = ("analytics" +: Panel.modules).flatMap(l => Seq(
        s"$l.warm_s" -> layerSum(warmMed, l), s"$l.cold_s" -> layerSum(cold, l)))
      val gold = Panel.goldTables.map(t => s"gold.${t.stripPrefix("gold_")}_s" -> warmMed.getOrElse(t, 0.0))
      sample((layers ++ gold ++ Seq("gold.phase_s" -> gold.map(_._2).sum,
        "gold.self_s" -> gold.map(_._2).sum,
        "trace.overhead_ratio" -> warmMed.values.sum / medians(untracedWarm).values.sum)).toMap)
    }
    val warmAll = warm.values.flatten.toSeq
    detail ++= Map("history_draws" -> a.draws, "rounds" -> round, "ops" -> ops.size,
      "panel" -> Panel.queries.map(_.name), "panel_warm_s" -> warmMed.values.sum,
      "panel_cold_s" -> cold.values.sum, "query_p50_s" -> median(warmAll),
      "query_samples" -> warmAll.size, "op_warm_s" -> warmMed, "op_cold_s" -> cold.toMap)
    Seq(("setup_s", setupS, "s"),
      ("warm_s", warmMed.values.sum, "s"), ("cold_s", cold.values.sum, "s"),
      ("lake_bytes_per_raw_byte", lakeRatio(lake), "ratio"), ("cache_peak_mb", peak / 1e6, "MB"))
  }

  // ------------------------------------------------------------ layer output

  private def counters(js: Seq[(String, JobRecord)]): Map[String, Double] =
    js.groupBy(_._1).flatMap { case (layer, xs) =>
      val r = xs.map(_._2)
      Map(s"$layer.jobs" -> r.size.toDouble, s"$layer.tasks" -> r.map(_.tasks).sum.toDouble,
        s"$layer.task_cpu_s" -> r.map(_.cpuNs).sum / 1e9, s"$layer.gc_s" -> r.map(_.gcMs).sum / 1e3,
        s"$layer.shuffle_mb" -> r.map(_.shuffleBytes).sum / 1e6,
        s"$layer.spill_mb" -> r.map(_.spillBytes).sum / 1e6,
        s"$layer.input_mb" -> r.map(_.inputBytes).sum / 1e6)
    }

  private def layerMetrics(): Seq[(String, Double, String)] = {
    JobMeter.flush(sc)
    val floor = median((0 until 5).map(_ => timed(force(spark.range(1).toDF()))._2))
    sample(Map("spark.floor_s" -> floor, "spark.cache_fills" -> fillsPerOp))
    LayerNames.map { case (n, u) =>
      (n, layerSamples.get(n).map(v => median(v.toSeq)).getOrElse(0.0), u)
    }
  }
}

object Bench {

  /** Repetitions of the repeatable part of set-up. */
  val Setups = 3

  /** Raw draw files, the output root the pipeline writes, and the rows the
    * generator put in the files.
    */
  final case class Lake(raw: Path, out: Path, draws: Vector[DrawGen.Draw], rawBytes: Long)

  /** One analyst operation: what it runs and how its result is checked. */
  final case class Op(name: String, layer: String, build: () => DataFrame,
      check: Seq[Row] => Seq[String])

  /** Every per-layer metric, in output order, with its unit. A layer a
    * workload does not exercise reads 0.
    */
  val LayerGroups: Seq[String] = Seq("parse", "sources", "gold", "pipeline", "analytics", "operators")
  val ModuleLayers: Seq[String] = Seq("relational", "analytics_ops", "stats", "temporal",
    "textops", "similarity", "curation", "retrieval", "windows", "crosscorpus", "privacy", "events")

  def layerGroup(layer: String): String =
    if (ModuleLayers.contains(layer)) "operators" else layer

  val LayerNames: Seq[(String, String)] =
    Seq("trace.overhead_ratio" -> "ratio", "spark.floor_s" -> "s", "spark.cache_fills" -> "count",
      "parse.scan_s" -> "s", "parse.skip_s" -> "s", "parse.parse_s" -> "s",
      "parse.files_scanned" -> "count", "parse.draws_parsed" -> "count",
      "parse.rows_parsed" -> "count", "parse.useful_ratio" -> "ratio", "parse.self_s" -> "s",
      "sources.silver_write_s" -> "s", "sources.silver_files" -> "count",
      "sources.silver_bytes" -> "bytes", "sources.gold_write_s" -> "s",
      "sources.gold_files" -> "count", "sources.gold_bytes" -> "bytes", "sources.self_s" -> "s") ++
      Seq("draw_summary", "winning_number_frequency", "terminations", "letters_distribution",
        "geo_winnings", "vendor_leaderboard", "time_series").map(t => s"gold.${t}_s" -> "s") ++
      Seq("gold.phase_s" -> "s", "gold.readback_s" -> "s", "gold.self_s" -> "s",
        "pipeline.self_s" -> "s", "analytics.warm_s" -> "s", "analytics.cold_s" -> "s") ++
      ModuleLayers.flatMap(m => Seq(s"$m.warm_s" -> "s", s"$m.cold_s" -> "s")) ++
      LayerGroups.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.tasks" -> "count",
        s"$l.task_cpu_s" -> "s", s"$l.gc_s" -> "s", s"$l.shuffle_mb" -> "MB",
        s"$l.spill_mb" -> "MB", s"$l.input_mb" -> "MB"))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    case d: Double => num(d)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Data files and their bytes under a lake directory (checksums and
    * commit markers excluded).
    */
  def dataFiles(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toArray.map(_.asInstanceOf[Path])
        (files.length.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}
