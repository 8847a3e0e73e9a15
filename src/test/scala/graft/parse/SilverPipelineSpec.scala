package graft.parse

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Pipeline, TestSpark}
import graft.gold.{Gold, GoldSql}
import graft.sources.Writers

/** End-to-end: fixture draws → bronze scan → silver → gold, plus writer
  * round-trips and the incremental (skip-processed) contract.
  */
class SilverPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val rawPath = "data/fixtures/raw"

  private def freshDir(): String =
    Files.createTempDirectory("graft_silver_spec").toString

  /** Copy fixture draw `name` into `raw`, under `dir` (default: the draw's
    * own fixture year=/sorteo= directory).
    */
  private def stage(raw: String, name: String, dir: Option[String] = None): Unit = {
    val src = java.nio.file.Paths.get(rawPath)
    val p = Files.walk(src).filter(_.toString.endsWith(name)).findFirst().get()
    val dst = java.nio.file.Paths.get(raw,
      dir.getOrElse(src.relativize(p.getParent).toString), name)
    Files.createDirectories(dst.getParent)
    Files.copy(p, dst)
  }

  /** `Pipeline.run` with its standard error captured: the run's outcome
    * and the events it logged.
    */
  private def runLogged(glob: String, out: String): (Try[Map[String, Long]], List[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val result = try Try(Pipeline.run(spark, glob, out)) finally System.setErr(saved)
    (result, buf.toString("UTF-8").linesIterator.filter(_.startsWith("{\"event\":")).toList)
  }

  /** The logged events named `name`. */
  private def events(logged: List[String], name: String): List[String] =
    logged.filter(_.startsWith(s"""{"event":"$name","""))

  /** A successful `Pipeline.run`; returns the one `bronze_scan` event it
    * logged.
    */
  private def runScanned(glob: String, out: String): String = {
    val (result, logged) = runLogged(glob, out)
    result.get
    val scans = events(logged, "bronze_scan")
    assert(scans.size == 1, scans)
    scans.head
  }

  /** An integer field of a logged event. */
  private def field(event: String, name: String): Long =
    s""""$name":(\\d+)""".r.findFirstMatchIn(event).map(_.group(1).toLong)
      .getOrElse(fail(s"no $name in $event"))

  test("bronze scan finds all fixture files; partition keys extract from paths") {
    val raw = Silver.rawDraws(spark, s"$rawPath/year=*/sorteo=*/*.txt")
    assert(raw.count() == 3)
  }

  test("end-to-end pipeline: silver schemas, golden values, gold tables, idempotent rerun") {
    val out = freshDir()
    val counts = Pipeline.run(spark, s"$rawPath/year=*/sorteo=*/*.txt", out)

    val sorteos = spark.read.parquet(s"$out/silver/sorteos")
    val premios = spark.read.parquet(s"$out/silver/premios")
    assert(sorteos.count() == 3)
    assert(premios.count() == 7 + 4 + 3)
    // silver schema contract (FIXTURES.md §2-3)
    assert(premios.columns.toSet == Set("numero_sorteo", "numero_premiado", "letras",
      "monto", "vendedor", "ciudad", "departamento", "year", "sorteo"))
    // Hive partition layout (year=/sorteo=)
    assert(new java.io.File(s"$out/silver/premios/year=2024/sorteo=3046").isDirectory)
    assert(new java.io.File(s"$out/silver/premios/year=2025/sorteo=3101").isDirectory)

    // gold_draw_summary golden row for sorteo 3046 (hand-computed)
    val ds = spark.read.parquet(s"$out/gold/gold_draw_summary")
      .where(col("numero_sorteo") === 3046).collect().head
    assert(ds.getAs[Long]("total_premios") == 7)
    assert(ds.getAs[Long]("premios_vendidos") == 5) // null vendedor drops out of <>
    assert(ds.getAs[Long]("premios_no_vendidos") == 1)
    assert(ds.getAs[Double]("pct_vendido") == 71.43)
    assert(math.abs(ds.getAs[Double]("total_monto") - 1103185.06) < 1e-6)
    assert(math.abs(ds.getAs[Double]("monto_pagado") - 1101200.0) < 1e-6)
    assert(ds.getAs[Double]("top_premio") == 500000.0)

    // terminations: 7 → '07', 109964 → '64' (length-robust % 100)
    val term = spark.read.parquet(s"$out/gold/gold_terminations")
    assert(term.where(col("terminacion") === "07").count() == 1)
    assert(term.where(col("terminacion") === "64").count() == 1)

    // geo_winnings is year-partitioned on disk and excludes NO VENDIDO
    assert(new java.io.File(s"$out/gold/gold_geo_winnings/year=2024").isDirectory)

    // all 7 gold tables built with rows, counted by the write itself
    assert(counts.keySet == Gold.builders.keySet)
    assert(counts.values.forall(_ > 0))
    counts.foreach { case (t, n) =>
      assert(n == spark.read.parquet(s"$out/gold/$t").count(), s"$t observed count")
    }

    // incremental rerun: all draws already in silver → nothing appended,
    // gold rebuild (overwrite) stays identical
    val counts2 = Pipeline.run(spark, s"$rawPath/year=*/sorteo=*/*.txt", out)
    assert(spark.read.parquet(s"$out/silver/premios").count() == 14)
    assert(counts2 == counts)
  }

  test("a crash between the two silver writes is repaired by the next run") {
    val glob = s"$rawPath/year=*/sorteo=*/*.txt"
    val clean = freshDir()
    Pipeline.run(spark, glob, clean)

    val out = freshDir()
    val committer = "spark.sql.parquet.output.committer.class"
    spark.conf.set(committer, classOf[SecondSilverCommitFails].getName)
    SecondSilverCommitFails.arm(out)
    try intercept[Exception](Pipeline.run(spark, glob, out))
    finally {
      SecondSilverCommitFails.disarm()
      spark.conf.unset(committer)
    }
    // declared schemas, and no read of a missing path: a failed read would
    // be posted to the session's listeners even though it is expected
    def hasRows(t: String): Boolean = {
      val schema = if (t == "sorteos") Silver.SorteosSchema else Silver.PremiosSchema
      Files.exists(java.nio.file.Paths.get(s"$out/silver/$t")) &&
        spark.read.schema(schema).parquet(s"$out/silver/$t").count() > 0
    }
    assert(Seq("sorteos", "premios").count(hasRows) == 1,
      "the injected failure must strike between the two silver writes")

    Pipeline.run(spark, glob, out)
    for (t <- Seq("sorteos", "premios")) {
      val want = spark.read.parquet(s"$clean/silver/$t")
      val got = spark.read.parquet(s"$out/silver/$t")
      assert(got.exceptAll(want).isEmpty, s"silver $t has rows a clean run does not")
      assert(want.exceptAll(got).isEmpty, s"silver $t lacks rows a clean run has")
    }
  }

  test("a failed gold build: run throws only after the other six tables are written") {
    val out = freshDir()
    val draws = Silver.parseDraws(Silver.rawDraws(spark, s"$rawPath/year=*/sorteo=*/*.txt"))
    // silver premios whose letras file column is a long, not the declared
    // string: only gold_letters_distribution reads it, and its scan fails
    Writers.writeSilverPartitioned(Silver.premios(draws).toDF().withColumn("letras", lit(1L)),
      s"$out/silver/premios")
    Writers.writeSilverPartitioned(Silver.sorteos(draws).toDF(), s"$out/silver/sorteos")
    Files.createDirectory(java.nio.file.Paths.get(s"$out/empty_raw"))
    intercept[org.apache.spark.SparkException](
      Pipeline.run(spark, s"$out/empty_raw/*.txt", out))
    val others = Gold.builders.keySet - "gold_letters_distribution"
    assert(others.size == 6)
    others.foreach { t =>
      assert(new java.io.File(s"$out/gold/$t/_SUCCESS").isFile,
        s"$t has no _SUCCESS when run throws")
    }
  }

  test("SQL form of every gold query matches the DataFrame builders") {
    val draws = Silver.parseDraws(Silver.rawDraws(spark, s"$rawPath/year=*/sorteo=*/*.txt"))
    val sorteos = Silver.sorteos(draws).toDF()
    val premios = Silver.premios(draws).toDF()
    Writers.registerSilver(sorteos, premios)
    Gold.builders.foreach { case (name, build) =>
      val viaDf = build(sorteos, premios)
      val viaSql = GoldSql.run(spark, name)
      assert(viaSql.columns.toSeq == viaDf.columns.toSeq, s"$name column mismatch")
      val a = viaDf.collect().map(_.toSeq).toSet
      val b = viaSql.collect().map(_.toSeq).toSet
      assert(a == b, s"$name rows differ between DataFrame and SQL form")
    }
  }

  test("incremental arrival: a NEW draw file appends only its own rows") {
    val out = freshDir()
    val raw = freshDir()
    // first run: two 2024 draws (7 + 4 premios rows)
    stage(raw, "results_raw_lottery_url_id_287_3046.txt")
    stage(raw, "results_raw_lottery_url_id_288_3047.txt")
    Pipeline.run(spark, s"$raw/year=*/sorteo=*/*.txt", out)
    assert(spark.read.parquet(s"$out/silver/premios").count() == 11)
    // a NEW draw arrives: only its 3 rows append, nothing re-processed
    stage(raw, "results_raw_lottery_url_id_310_3101.txt")
    val scan = runScanned(s"$raw/year=*/sorteo=*/*.txt", out)
    assert(field(scan, "listed") == 3)
    assert(field(scan, "new") == 1, scan) // only the new file is read
    val premios = spark.read.parquet(s"$out/silver/premios")
    assert(premios.count() == 14)
    assert(premios.where(col("sorteo") === 3046).count() == 7) // not duplicated
    assert(premios.where(col("sorteo") === 3101).count() == 3) // newly arrived
  }

  test("incremental rerun: a raw file with no sorteo= path key is never re-appended") {
    val out = freshDir()
    val raw = freshDir()
    // one draw in the year=/sorteo= layout, one loose draw beside it
    stage(raw, "results_raw_lottery_url_id_287_3046.txt")
    stage(raw, "results_raw_lottery_url_id_288_3047.txt", Some("year=2024/incoming"))
    val glob = s"$raw/year=*/*/*.txt"
    assert(Silver.rawDraws(spark, glob).count() == 2)
    val scan1 = runScanned(glob, out)
    val first = spark.read.parquet(s"$out/silver/premios").count()
    val scan2 = runScanned(glob, out)
    assert(spark.read.parquet(s"$out/silver/premios").count() == first)
    assert(first == 7) // only the keyed draw; the loose one is skipped
    // the loose file is counted and named on every run, never read
    for (scan <- Seq(scan1, scan2)) {
      assert(field(scan, "unkeyed") == 1, scan)
      assert(scan.contains("year=2024/incoming/results_raw_lottery_url_id_288_3047.txt"), scan)
    }
    assert(field(scan1, "new") == 1, scan1)
    assert(field(scan2, "new") == 0, scan2)
  }

  test("a new raw file is read by its own path, glob characters and spaces included") {
    val out = freshDir()
    val raw = freshDir()
    stage(raw, "results_raw_lottery_url_id_287_3046.txt", Some("year=2024/sorteo=3046/a [b]{c} d"))
    stage(raw, "results_raw_lottery_url_id_288_3047.txt", Some("year=2024/sorteo=3047/x?y*z"))
    val glob = s"$raw/year=*/sorteo=*/*/*.txt"
    val scan = runScanned(glob, out)
    assert(field(scan, "new") == 2, scan)
    assert(spark.read.parquet(s"$out/silver/premios").count() == 7 + 4)
  }

  test("processedSorteos: empty on a missing path or a data-less directory") {
    val out = freshDir()
    // missing path → first run → empty processed set
    assert(Silver.processedSorteos(spark, s"$out/nope").count() == 0)
    // a directory an aborted write left without data → nothing processed
    Files.createDirectory(java.nio.file.Paths.get(s"$out/aborted"))
    assert(Silver.processedSorteos(spark, s"$out/aborted").count() == 0)
  }

  test("a corrupt silver file fails the run at the gold read; no draw is rewritten") {
    val glob = s"$rawPath/year=*/sorteo=*/*.txt"
    val out = freshDir()
    Pipeline.run(spark, glob, out)
    val part = Files.list(java.nio.file.Paths.get(s"$out/silver/sorteos/year=2024/sorteo=3046"))
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.write(part, "not a parquet file".getBytes)
    /** Every file under silver with its modification time. */
    def silverState(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(s"$out/silver")
      Files.walk(root).filter(Files.isRegularFile(_)).iterator().asScala
        .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = silverState()
    // the damaged draw still counts as processed, so nothing is reparsed:
    // treating damage as "not processed" would rewrite every draw in the
    // raw history
    val (result, logged) = runLogged(glob, out)
    assert(result.isFailure, "a run over corrupt silver must throw")
    val scans = events(logged, "bronze_scan")
    assert(scans.size == 1 && field(scans.head, "new") == 0, logged)
    assert(events(logged, "silver_write").isEmpty)
    assert(events(logged, "gold_build").exists(_.contains("\"error\":")),
      s"the failure must come from a gold build:\n${logged.mkString("\n")}")
    assert(silverState() == before, "a run over corrupt silver rewrote a silver partition")
  }

  test("silver's declared read schemas are the ones Spark infers from its files") {
    val out = freshDir()
    val draws = Silver.parseDraws(Silver.rawDraws(spark, s"$rawPath/year=*/sorteo=*/*.txt"))
    Writers.writeSilverPartitioned(Silver.sorteos(draws).toDF(), s"$out/sorteos")
    Writers.writeSilverPartitioned(Silver.premios(draws).toDF(), s"$out/premios")
    val declared = Map("sorteos" -> Silver.SorteosSchema, "premios" -> Silver.PremiosSchema)
    for ((t, schema) <- declared) {
      val inferred = spark.read.parquet(s"$out/$t").schema
      assert(inferred == schema, s"$t:\n${inferred.treeString}\n${schema.treeString}")
    }
  }

  test("the weekly increment submits no listing or schema-inference job") {
    import spark.implicits._
    val out = freshDir()
    val raw = freshDir()
    // a 40-draw history: more paths than the 32 above which Spark's
    // default lists with a job
    val history = 2001L to 2040L
    val day = java.sql.Date.valueOf("2023-01-07")
    Writers.writeSilverPartitioned(history.map(n => Transformer.Premio(n, Some(n), Some("AB"),
      100.0, Some("V"), Some("C"), Some("D"), 2023, n)).toDF(), s"$out/silver/premios")
    Writers.writeSilverPartitioned(history.map(n => Transformer.Sorteo(n, Some("ORDINARIO"),
      Some(day), Some(day), Some(1L), Some(2L), Some(3L), None, None, None, 2023, n)).toDF(),
      s"$out/silver/sorteos")
    // their raw files: already processed, so never opened
    history.foreach { n =>
      val f = java.nio.file.Paths.get(raw, s"year=2023/sorteo=$n/draw_$n.txt")
      Files.createDirectories(f.getParent)
      Files.createFile(f)
    }
    stage(raw, "results_raw_lottery_url_id_287_3046.txt")

    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => sites.add(st.name))
    }
    spark.sparkContext.addSparkListener(listener)
    val counts =
      try Pipeline.run(spark, s"$raw/year=*/sorteo=*/*.txt", out)
      finally {
        ListenerBus.flush(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    val metadata = sites.asScala.filter(site =>
      Seq("text at Silver.scala", "parquet at Silver.scala", "parquet at Pipeline.scala")
        .exists(site.startsWith))
    assert(metadata.isEmpty, s"metadata jobs among ${sites.asScala.toList}")
    assert(counts("gold_draw_summary") == 41)
  }

  test("Pipeline.run on a raw glob matching nothing returns empty, no throw") {
    val out = freshDir()
    Files.createDirectory(java.nio.file.Paths.get(s"$out/empty_raw"))
    val counts = Pipeline.run(spark, s"$out/empty_raw/*.txt", s"$out/out")
    assert(counts.isEmpty)
  }

  /** The queries `body` ran that failed, as the session's listeners see
    * them: a failed read posts its failure even when the caller catches
    * the exception, and an `Observation` the session used before logs it
    * as an ERROR with a stack trace.
    */
  private def failedQueries(body: => Unit): List[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // gold is built first, so the session has used an Observation
    Pipeline.run(spark, s"$rawPath/year=*/sorteo=*/*.txt", freshDir())
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        failures.add(s"$funcName: ${e.getMessage.take(200)}")
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      ListenerBus.flush(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    failures.asScala.toList
  }

  test("a run into an empty root posts no failed read to the session's listeners") {
    val failed = failedQueries(Pipeline.run(spark, s"$rawPath/year=*/sorteo=*/*.txt", freshDir()))
    assert(failed.isEmpty, s"failed queries: $failed")
  }

  test("a raw glob matching nothing posts no failed read to the session's listeners") {
    val out = freshDir()
    Files.createDirectory(java.nio.file.Paths.get(s"$out/empty_raw"))
    val failed = failedQueries(assert(Silver.listRaw(spark, s"$out/empty_raw/*.txt").isEmpty))
    assert(failed.isEmpty, s"failed queries: $failed")
  }

  test("a malformed draw file fails the batch and the error names the file") {
    val raw = Silver.rawDraws(spark, "data/fixtures/bad/missing_*.txt")
    assert(raw.count() == 2)
    val e = intercept[org.apache.spark.SparkException](Silver.parseDraws(raw).count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains("missing_")),
      s"no error in the cause chain names the file:\n${messages.mkString("\n")}")
  }

  test("CSV sink/scan round-trip preserves silver premios values") {
    val out = freshDir()
    val draws = Silver.parseDraws(Silver.rawDraws(spark, s"$rawPath/year=*/sorteo=*/*.txt"))
    val premios = Silver.premios(draws).toDF()
    Writers.writeCsv(premios, s"$out/premios_csv")
    val back = Writers.readCsv(spark, s"$out/premios_csv")
    assert(back.count() == premios.count())
    assert(back.columns.sorted.toSeq == premios.columns.sorted.toSeq)
    // spot value survives the text round-trip
    assert(back.where(col("numero_premiado") === 109964).count() == 1)
  }

  test("overwrite gold sink is a full idempotent rebuild (S13/S14)") {
    val out = freshDir()
    val df1 = spark.range(5).toDF("id")
    Writers.writeGold(df1, s"$out/g")
    Writers.writeGold(spark.range(3).toDF("id"), s"$out/g")
    assert(spark.read.parquet(s"$out/g").count() == 3) // replaced, not appended
  }
}

/** Parquet committer that fails the job commit of whichever silver table
  * is written second under the armed output root: the first table
  * commits, the second's files never reach its directory, as when the
  * process dies between the two writes. Selected for a session through
  * `spark.sql.parquet.output.committer.class`; outside the armed root it
  * is the stock committer.
  */
class SecondSilverCommitFails(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: JobContext): Unit = {
    SecondSilverCommitFails.check(out.toString)
    super.commitJob(job)
  }
}

object SecondSilverCommitFails {
  private var root: Option[String] = None
  private var first: Option[String] = None

  def arm(outRoot: String): Unit = synchronized { root = Some(outRoot); first = None }
  def disarm(): Unit = synchronized { root = None }

  private def check(path: String): Unit = synchronized {
    for (r <- root; t <- Seq("sorteos", "premios").find(t => s"$path/".contains(s"$r/silver/$t/"))) {
      if (first.exists(_ != t))
        throw new java.io.IOException(s"injected failure before the silver $t commit")
      first = Some(t)
    }
  }
}
