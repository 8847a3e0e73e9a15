package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

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

  /** At most this many paths of raw files with no `sorteo=` key are logged. */
  private val UnkeyedPathsLogged = 20

  /** Full run. Returns the per-gold-table row counts (the reference's own
    * acceptance style: "paste row counts into the PR", roadmap.md:493).
    */
  def run(spark: SparkSession, rawPath: String, outRoot: String): Map[String, Long] = {
    // Bronze → Silver. Draws already in silver sorteos are skipped: sorteos
    // is written last, so a draw present there has both of its tables.
    // The skip runs on the driver, on the two listings, so the scan reads
    // only the new files. The only Spark jobs a run submits are for data:
    // the parse, the two silver writes and the gold builds. Silver's
    // schema comes from the code, and on one JVM the listings stay on the
    // driver (Session.builder).
    val silverSorteos = s"$outRoot/silver/sorteos"
    val silverPremios = s"$outRoot/silver/premios"
    val listed = Silver.listRaw(spark, rawPath)
    val processed = Silver.processedKeys(spark, silverSorteos)
    val fresh = listed.filter(Silver.isNew(processed))
    val unkeyed = listed.filter(Silver.sorteoKey(_).isEmpty)
    Log.event("bronze_scan", "listed" -> listed.size, "new" -> fresh.size,
      "unkeyed" -> unkeyed.size, "unkeyed_paths" -> unkeyed.take(UnkeyedPathsLogged))
    if (fresh.isEmpty) Log.event("silver_write_skipped", "reason" -> "no new draws")
    else {
      // Parse the increment ONCE and cut its lineage (eager
      // localCheckpoint): both silver writes read the same parsed draws,
      // instead of each rerunning the scan and the parse. The checkpoint
      // is not in the CacheManager; Spark's ContextCleaner frees its
      // blocks once `draws` becomes unreachable.
      val draws = Silver.parseDraws(Silver.rawDraws(spark, fresh.map(Silver.literalGlob): _*))
        .localCheckpoint()
      // premios first, sorteos last: sorteos is the commit marker the
      // skip reads, and both sinks overwrite per (year, sorteo), so a
      // crash between the writes is repaired by the next run.
      Log.timed("silver_write", "path" -> silverSorteos) {
        Writers.writeSilverPartitioned(Silver.premios(draws).toDF(), silverPremios)
        Writers.writeSilverPartitioned(Silver.sorteos(draws).toDF(), silverSorteos)
      }
    }

    // First-run guard: silver held no draw and none was new, so silver
    // was never written and there is nothing to build gold from (reading
    // the absent path would throw).
    if (processed.isEmpty && fresh.isEmpty) return Map.empty

    // Gold: read silver back (the canonical source) and rebuild all seven
    // tables with bounded parallelism. With the declared schemas these
    // reads open no file until a gold build runs.
    val sorteos = spark.read.schema(Silver.SorteosSchema).parquet(silverSorteos)
    val premios = spark.read.schema(Silver.PremiosSchema).parquet(silverPremios)

    val builds: Seq[Callable[(String, Long)]] = Gold.builders.toSeq.map { case (name, build) =>
      () => Log.timed("gold_build", "table" -> name) {
        // The write counts the rows. Read the count only after the write
        // succeeds: a failed write never completes the observation, and
        // get() would block for good.
        val observed = Observation(name)
        Writers.writeGold(build(sorteos, premios).observe(observed, count(lit(1)).as("rows")),
          s"$outRoot/gold/$name")
        val rows = observed.get("rows").asInstanceOf[Long]
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
