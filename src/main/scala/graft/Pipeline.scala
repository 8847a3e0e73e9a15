package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession

import graft.gold.Gold
import graft.parse.Silver
import graft.sources.Writers

/** O1/O2: the end-to-end DAG driver — raw .txt draws → silver parquet →
  * seven gold tables, replacing the reference's Step Function
  * (orchestration/main.tf:115-238). Stages are plain function calls on one
  * SparkSession; the seven independent gold builds run with bounded
  * parallelism 3 (the reference's Map MaxConcurrency, main.tf:196-199) on
  * Spark's own scheduler. `run` returns or throws only after every gold
  * build has finished: when builds fail, the others still complete and
  * write their tables, and `run` rethrows the first failure (in
  * `Gold.builders` order) with the rest attached as suppressed.
  */
object Pipeline {

  val GoldConcurrency = 3

  /** Full run. Returns the per-gold-table row counts (the reference's own
    * acceptance style: "paste row counts into the PR", roadmap.md:493).
    */
  def run(spark: SparkSession, rawPath: String, outRoot: String): Map[String, Long] = {
    // Bronze → Silver. Draws already in silver sorteos are skipped: sorteos
    // is written last, so a draw present there has both of its tables.
    val silverSorteos = s"$outRoot/silver/sorteos"
    val silverPremios = s"$outRoot/silver/premios"
    // A raw glob matching no files is "nothing new this run" (the weekly
    // scrape may legitimately produce zero draws), not a pipeline error.
    val raw0 =
      try Silver.rawDraws(spark, rawPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" =>
          import spark.implicits._
          spark.emptyDataset[(String, String)]
      }
    val raw = Silver.skipProcessed(raw0, Silver.processedSorteos(spark, silverSorteos))
    // Materialize the increment ONCE and CUT its lineage (eager
    // localCheckpoint): the emptiness probe and both silver writes read
    // the same parsed draws, instead of each rerunning the bronze scan,
    // the skip-processed anti-join and the parse. persist() is not
    // enough: isEmpty caches only the first partition. The increment is
    // bounded by arrival rate, so checkpoint size is small at any corpus
    // scale.
    val draws = Silver.parseDraws(raw).localCheckpoint()
    try {
      if (!draws.isEmpty) {
        // premios first, sorteos last: sorteos is the commit marker the
        // skip reads, and both sinks overwrite per (year, sorteo), so a
        // crash between the writes is repaired by the next run.
        Log.timed("silver_write", "path" -> silverSorteos) {
          Writers.writeSilverPartitioned(Silver.premios(draws).toDF(), silverPremios)
          Writers.writeSilverPartitioned(Silver.sorteos(draws).toDF(), silverSorteos)
        }
      } else Log.event("silver_write_skipped", "reason" -> "no new draws")
    } finally draws.unpersist()

    // First-run guard: no draws parsed AND no pre-existing silver → there
    // is nothing to build gold from (reading the absent path would throw).
    val fs = new org.apache.hadoop.fs.Path(silverSorteos)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(silverSorteos))) return Map.empty

    // Gold: read silver back (the canonical source) and rebuild all seven
    // tables with bounded parallelism.
    val sorteos = spark.read.parquet(silverSorteos)
    val premios = spark.read.parquet(silverPremios)

    val builds: Seq[Callable[(String, Long)]] = Gold.builders.toSeq.map { case (name, build) =>
      () => Log.timed("gold_build", "table" -> name) {
        Writers.writeGold(build(sorteos, premios), s"$outRoot/gold/$name")
        val rows = spark.read.parquet(s"$outRoot/gold/$name").count()
        Log.event("gold_rows", "table" -> name, "rows" -> rows)
        name -> rows
      }
    }
    // invokeAll returns only once every build has finished, failed or not
    val pool = Executors.newFixedThreadPool(GoldConcurrency)
    val done = try pool.invokeAll(builds.asJava).asScala.toSeq.map(f => Try(f.get()))
      finally pool.shutdown()
    val failures = done.collect { case Failure(e: ExecutionException) => e.getCause }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    done.map(_.get).toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(rawPath, outRoot) = args.take(2)
    val spark = Session.get(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    val counts = Pipeline.run(spark, rawPath, outRoot)
    counts.toSeq.sortBy(_._1).foreach { case (n, c) => println(s"$n: $c rows") }
    spark.stop()
  }
}
