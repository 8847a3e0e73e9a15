package graft.parse

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import Transformer.{Premio, SilverDraw, Sorteo}

/** Bronze → Silver: whole-file text scan, per-file atomic parse,
  * typed silver Datasets with the enforced schema, and the incremental
  * skip-processed scan.
  *
  * Scale design: a draw file is small (KBs) and the parse is per-file
  * sequential by CONTRACT (the body fold is order-dependent,
  * reference parser.py:106-119) — so the unit of parallelism is the file.
  * `wholetext` keeps file = record; at 100 TB of draws this is a
  * many-small-files scan, which Spark packs into tasks via
  * spark.sql.files.maxPartitionBytes — no driver-side listing loops.
  */
object Silver {

  /** S1: raw text scan, one record per file with its path. */
  def rawDraws(spark: SparkSession, rawPath: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(rawPath)
      .select(input_file_name().as("path"), col("value").as("content"))
      .as[(String, String)]
  }

  /** S4: incremental scan — drop raw files whose `sorteo=` path key already
    * exists in silver. Distributed anti-join on the partition value, the
    * Spark shape of the reference's processed-set check
    * (transformer.py:91-117); no driver-side set. A file with no
    * `sorteo=N/` path segment is skipped as well (the reference
    * logs-and-continues on a missing path key, transformer.py:110-115):
    * its null key never matches the anti-join, so keeping it would
    * re-append its rows to silver on every run.
    */
  def skipProcessed(
      raw: Dataset[(String, String)],
      processedSorteos: DataFrame): Dataset[(String, String)] = {
    import raw.sparkSession.implicits._
    raw.toDF("path", "content")
      .withColumn("sorteo", regexp_extract(col("path"), "sorteo=(\\d+)/", 1).cast("long"))
      .where(col("sorteo").isNotNull)
      .join(processedSorteos.select(col("sorteo").cast("long").as("sorteo")),
        Seq("sorteo"), "left_anti")
      .select(col("path"), col("content"))
      .as[(String, String)]
  }

  /** Already-present silver partition keys (empty frame if silver doesn't
    * exist yet, or holds no committed file: a write that failed before
    * its commit leaves the directory behind with no data in it).
    */
  def processedSorteos(spark: SparkSession, silverSorteosPath: String): DataFrame = {
    import spark.implicits._
    // Only a missing or data-less path means "nothing processed". Any
    // OTHER read failure (corrupt footer, transient IO) must propagate:
    // silently returning the empty set would hide the damage and reparse
    // and rewrite every draw in the raw history.
    try spark.read.parquet(silverSorteosPath).select(col("sorteo")).distinct()
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")(e.getCondition) =>
        Seq.empty[Long].toDF("sorteo")
    }
  }

  /** Parse every raw file into typed silver draws. Strict, per the
    * reference's parser.py contract: a file parses whole or the batch
    * fails (whole-file atomicity). Only files missing the `sorteo=` path
    * key are skipped, and that happens earlier, in [[skipProcessed]]. A
    * malformed file fails the batch with a [[Parser.ParseException]] whose
    * message names the file's path; the parser's own error is its cause.
    */
  def parseDraws(raw: Dataset[(String, String)]): Dataset[SilverDraw] = {
    import raw.sparkSession.implicits._
    raw.map { case (path, content) =>
      try Transformer.toSilver(Parser.parseDraw(content))
      catch {
        case scala.util.control.NonFatal(e) =>
          throw Parser.ParseException(s"malformed draw file $path: ${e.getMessage}").initCause(e)
      }
    }
  }

  def sorteos(draws: Dataset[SilverDraw]): Dataset[Sorteo] = {
    import draws.sparkSession.implicits._
    draws.map(_.sorteo)
  }

  def premios(draws: Dataset[SilverDraw]): Dataset[Premio] = {
    import draws.sparkSession.implicits._
    draws.flatMap(_.premios)
  }
}
