package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sinks and scans (SURVEY §2.1): the Hive-partitioned silver sink, the
  * overwrite gold sink (which subsumes the reference's whole purge-Lambda
  * + CTAS dance, purge_and_load.py:65-114 — S13/S14), CSV scan/sink,
  * catalog registration and small-file compaction.
  */
object Writers {

  /** S5: silver sink, Hive-partitioned by (year, sorteo)
    * (reference transformer.py:253-258 layout
    * `silver/{ds}/year=Y/sorteo=N/`). Dynamic partition overwrite: a
    * write replaces exactly the (year, sorteo) directories present in
    * `df` and leaves every other partition untouched. Writing a draw is
    * therefore idempotent: a rerun after a crash between the premios and
    * sorteos writes replaces the draw instead of duplicating its rows.
    * The overwrite mode is a per-write option, so no global
    * `partitionOverwriteMode` conf leaks into other writers.
    */
  def writeSilverPartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year", "sorteo")
      .parquet(path)

  /** S13/S14: gold sink — full rebuild. `mode("overwrite")` replaces the
    * whole table in one writer call, standing in for the reference's
    * DROP TABLE + empty-the-prefix + CTAS choreography, so rebuilding from
    * the same silver always yields the same gold. The swap is not atomic:
    * a concurrent reader can see the table empty mid-write. Partitioned by
    * `year` iff the frame has a `year` column ([[goldPartitioning]]).
    */
  def writeGold(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy(goldPartitioning(df): _*).parquet(path)

  /** Gold layout follows the frame: the builders that aggregate per year
    * end with a `year` column (reference CTAS rule, partition column
    * last) and are partitioned by it; the others are flat.
    */
  private def goldPartitioning(df: DataFrame): Seq[String] =
    if (df.columns.contains("year")) Seq("year") else Nil

  /** S8: CSV scan (header + schema inference at the notebook boundary only —
    * SURVEY §1.2: inference is allowed at Bronze/notebook edges, never for
    * the silver contract).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S9: CSV sink. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S11: session-scoped catalog registration — temp views over silver,
    * for single-session pipelines ([[registerSilverPersistent]] is the
    * metastore-backed form).
    */
  def registerSilver(sorteos: DataFrame, premios: DataFrame): Unit = {
    sorteos.createOrReplaceTempView("sorteos")
    premios.createOrReplaceTempView("premios")
  }

  /** S11 (persistent): EXTERNAL-table registration via saveAsTable —
    * metadata lands in the session's metastore (a Hive-compatible catalog,
    * [[graft.Session.builderWithCatalog]]) and survives the session; data
    * stays at `path` in the same partition layout the path-based writers
    * produce, so existing path readers keep working. This is the
    * Spark-native replacement for the reference's Glue crawler
    * (terraform/modules/catalog/main.tf:37-94): no crawl step, the write
    * IS the registration.
    */
  def saveAsExternalTable(df: DataFrame, name: String, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("path", path)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).saveAsTable(name)
  }

  /** Persistent form of [[registerSilver]]: silver tables by name in the
    * metastore, backed by `<root>/silver/<table>`.
    */
  def registerSilverPersistent(sorteos: DataFrame, premios: DataFrame, root: String): Unit = {
    saveAsExternalTable(sorteos, "sorteos", s"$root/silver/sorteos")
    saveAsExternalTable(premios, "premios", s"$root/silver/premios")
  }

  /** Persistent form of [[writeGold]]: the gold rebuild self-registers in
    * the metastore under `name` (the reference's CTAS-self-registration
    * semantics, sql/gold/README.md:20-29) while keeping the same
    * overwrite-idempotent parquet layout at `path`.
    */
  def writeGoldTable(df: DataFrame, name: String, path: String): Unit =
    saveAsExternalTable(df, name, path, goldPartitioning(df))

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes/targetBytes) files. Incremental appends (weekly silver
    * runs, streaming sinks) accumulate files far smaller than a scan's
    * ideal split; at warehouse scale the fix is this periodic rewrite —
    * read once, `repartition(n)` (round-robin, so output files are
    * even-sized), then swap staging into place.
    *
    * UNPARTITIONED directories only: a Hive-partitioned table
    * (`key=value` subdirectories) is refused, because a flat rewrite
    * would demote the inferred partition columns to data columns and
    * destroy partition pruning — use [[compactPartitioned]], which
    * compacts each leaf partition in place. The swap is staging-write +
    * two renames (dir → `.compact-old`, staging → dir) and is NOT a
    * single atomic operation: a concurrent reader can observe a brief
    * window where `path` is absent, and a crash between the renames
    * leaves the live data at `<path>.compact-old`. The next compact()
    * run self-heals: if `path` is missing and a backup exists it
    * restores backup → path FIRST (the backup is the only copy in that
    * state — it must never be treated as stale garbage), and only when
    * the live dir is present does it clear leftover staging/backup from
    * an earlier crash. If the second rename fails the original
    * directory is restored in place, so the table never STAYS missing.
    * Returns the output file count.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    import scala.util.control.NonFatal
    val dir = Paths.get(path)
    val staging = Paths.get(path + ".compact-staging")
    val backup = Paths.get(path + ".compact-old")
    // crash between the two renames leaves the ONLY copy at backup with
    // `dir` absent — restore it rather than treating it as stale garbage
    if (!Files.exists(dir) && Files.exists(backup))
      Files.move(backup, dir, StandardCopyOption.ATOMIC_MOVE)
    val partitionDirs = Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
        .take(1).toList
    }
    require(partitionDirs.isEmpty,
      s"compact() is for unpartitioned directories; $path has partition " +
        s"subdirectory ${partitionDirs.head.getFileName} — use compactPartitioned()")
    // the live dir is present, so leftovers from a previous crashed run
    // really are stale (a stale backup would make the dir→backup rename
    // below fail)
    deleteTree(staging); deleteTree(backup)
    val bytes = Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(Files.size).sum
    }
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(staging.toString)
    Files.move(dir, backup, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
    catch { case NonFatal(e) =>
      // put the original back so the table path never stays missing
      Files.move(backup, dir, StandardCopyOption.ATOMIC_MOVE)
      throw e
    }
    // cleanup of the displaced originals; the table is already live, so a
    // failure here must not fail the compact — a stray .compact-old is
    // harmless and is cleared by the next run's pre-clean above
    try deleteTree(backup) catch { case NonFatal(_) => () }
    n
  }

  /** [[compact]] for Hive-partitioned tables: finds every leaf directory
    * that directly holds parquet files and compacts it in place, so the
    * `key=value` layout (and partition pruning) survives. Returns the
    * total output file count across leaves.
    */
  def compactPartitioned(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val leaves = Using.resource(Files.walk(Paths.get(path))) { s =>
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(_.getParent).toSet
    }
    leaves.toSeq.sortBy(_.toString).map(p => compact(spark, p.toString, targetBytes)).sum
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    if (Files.exists(root))
      Using.resource(Files.walk(root)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
  }
}
