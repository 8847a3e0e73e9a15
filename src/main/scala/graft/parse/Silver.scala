package graft.parse

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

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
  * spark.sql.files.maxPartitionBytes.
  *
  * Silver's schema comes from the code: every read of silver states
  * [[SorteosSchema]] or [[PremiosSchema]], so a read opens no file to
  * infer one. With the listing on the driver on single-JVM masters
  * ([[graft.Session.builder]]), reading silver's metadata submits no
  * Spark job.
  */
object Silver {

  /** Read schema of silver `sorteos`, from the [[Sorteo]] encoder. */
  val SorteosSchema: StructType = readSchema(Encoders.product[Sorteo].schema)

  /** Read schema of silver `premios`, from the [[Premio]] encoder. */
  val PremiosSchema: StructType = readSchema(Encoders.product[Premio].schema)

  /** A silver table as a parquet read yields it: the data columns, all
    * nullable, then the partition columns `year` and `sorteo` as the ints
    * Spark takes from `year=2024/sorteo=3046` directory names (the row's
    * `sorteo` is a long, its directory value is not).
    */
  private def readSchema(row: StructType): StructType = {
    val partitions = Seq("year", "sorteo")
    StructType(row.filterNot(f => partitions.contains(f.name)).map(_.copy(nullable = true)) ++
      partitions.map(StructField(_, IntegerType)))
  }

  /** S1: raw text scan, one record per file with its path. Each argument
    * is a Hadoop glob.
    */
  def rawDraws(spark: SparkSession, rawPaths: String*): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(rawPaths: _*)
      .select(input_file_name().as("path"), col("value").as("content"))
      .as[(String, String)]
  }

  /** The files a raw glob matches, listed on the driver, as decoded
    * paths (the listing itself is URI-encoded). A glob matching nothing is
    * "nothing new this run" (the weekly scrape may legitimately produce
    * zero draws), not an error. The glob is matched before the read, as
    * [[processedKeys]] checks its path, so an empty match posts no failed
    * read to the session's listeners.
    */
  def listRaw(spark: SparkSession, rawPath: String): Seq[String] = {
    val glob = new Path(rawPath)
    val matched = glob.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(glob)
    if (matched == null || matched.isEmpty) Nil
    else spark.read.text(rawPath).inputFiles.toSeq.map(f => new Path(new URI(f)).toString)
  }

  /** A listed file path as a glob that matches only that file. */
  def literalGlob(path: String): String = path.replaceAll("""([{}\[\]*?\\])""", """\\$1""")

  private val SorteoKey = "sorteo=(\\d+)/".r

  /** S3: the `sorteo=N/` partition key in a file's path, if it has one. */
  def sorteoKey(path: String): Option[Long] =
    SorteoKey.findFirstMatchIn(path).flatMap(_.group(1).toLongOption)

  /** S4: the skip rule, the Spark shape of the reference's processed-set
    * check (transformer.py:91-117). A raw file is new iff its path key is
    * not in `processed`. A file with no `sorteo=N/` path segment is never
    * new (the reference logs-and-continues on a missing path key,
    * transformer.py:110-115): no processed key can ever match it, so
    * keeping it would re-append its rows to silver on every run.
    */
  def isNew(processed: Set[Long])(path: String): Boolean =
    sorteoKey(path).exists(k => !processed(k))

  /** S4 on an already scanned Dataset: drop the records [[isNew]] rejects.
    * `Pipeline.run` applies the same rule to the raw listing instead, so
    * it never reads a processed file.
    */
  def skipProcessed(
      raw: Dataset[(String, String)],
      processedSorteos: DataFrame): Dataset[(String, String)] = {
    import raw.sparkSession.implicits._
    val processed = processedSorteos.select(col("sorteo").cast("long")).as[Long].collect().toSet
    raw.filter(r => isNew(processed)(r._1))
  }

  /** Keys of the draws silver `sorteos` holds, taken from its file listing
    * on the driver. The set is one long per draw (about 0.8 MB at 10^5
    * draws), and holding it there lets the raw listing be pruned before
    * any file is read. Empty if silver doesn't exist yet, or holds no
    * committed file: a write that failed before its commit leaves the
    * directory behind with no data in it.
    *
    * The read states [[SorteosSchema]], so the keys come from file names
    * alone and no file is opened. A committed file that is damaged still
    * counts as processed: its draw is never reparsed and rewritten, and
    * the run fails when gold reads it. Only a missing path means "nothing
    * processed"; any other listing failure propagates.
    *
    * The path is checked before the read, not caught after it: a failed
    * read is posted to the session's listeners even when caught, and once
    * the session has used an `Observation` Spark logs it as an ERROR.
    */
  def processedKeys(spark: SparkSession, silverSorteosPath: String): Set[Long] = {
    val path = new Path(silverSorteosPath)
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) Set.empty
    else spark.read.schema(SorteosSchema).parquet(silverSorteosPath)
      .inputFiles.flatMap(sorteoKey).toSet
  }

  /** [[processedKeys]] as a one-column `sorteo` frame. */
  def processedSorteos(spark: SparkSession, silverSorteosPath: String): DataFrame = {
    import spark.implicits._
    processedKeys(spark, silverSorteosPath).toSeq.toDF("sorteo")
  }

  /** Parse every raw file into typed silver draws. Strict, per the
    * reference's parser.py contract: a file parses whole or the batch
    * fails (whole-file atomicity). Only files missing the `sorteo=` path
    * key are skipped, and that happens earlier, by [[isNew]]. A
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
