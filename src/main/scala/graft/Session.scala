package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession builder for the engine.
  *
  * Config choices (all scale-motivated, see SURVEY.md §4/§7.4):
  *  - `spark.sql.shuffle.partitions` defaults to 32 (the harness's
  *    local[32] executor-thread count); on a real cluster AQE coalescing
  *    makes the initial number a ceiling, not a tuning knob.
  *  - AQE on: runtime shuffle coalescing + skew-join splitting, so the same
  *    plans survive a 100× scale-up without re-tuning.
  *  - ANSI off: the reference's coercion semantics are pandas
  *    `errors="coerce"` → NULL (reference transformer.py:55-70,213-222); we
  *    need `cast` / `to_date` to yield NULL on bad input, not throw.
  *  - UTC session timezone for oracle (DuckDB) parity on timestamps.
  *  - Single-JVM masters (`local`, `local[...]`) only: shuffle and spill
  *    compression off, and `spark.sql.sources.parallelPartitionDiscovery.threshold`
  *    at 100 000, so a file listing stays on the driver instead of running
  *    as a Spark job once it passes 32 paths. On one JVM both are pure
  *    per-job latency. Cluster masters, `local-cluster[...]` included,
  *    keep Spark's defaults: there blocks cross the network and a listing
  *    job spreads the file-system calls over the executors.
  */
object Session {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // The events table carries INT64 TIMESTAMP(NANOS) which Spark 4 rejects
      // by default; read as nanos-since-epoch longs and convert explicitly
      // (Tables.events derives a microsecond timestamp column).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Runtime bloom-filter pushdown: a selective filter on one join side
      // injects a codegen'd might_contain prefilter into the other side's
      // scan, cutting shuffle volume before it exists. The application-side
      // size threshold (10 GB default) keeps it a no-op on toy inputs and
      // live at warehouse scale; ScaleSpec lowers the threshold to assert
      // the injection actually fires.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
    // Single-JVM masters move shuffle blocks through loopback memory /
    // page cache, where lz4 framing of KB-sized blocks is pure per-stage
    // latency, and a listing job only hands the driver's own file-system
    // calls to its own task threads. On a real (network-bound) cluster the
    // defaults are correct, so only single-JVM masters opt out.
    // `local-cluster[...]` deliberately does NOT match: it moves blocks
    // between executor JVMs over sockets, where the network defaults apply.
    if (master == "local" || master.startsWith("local["))
      b.config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    else b
  }

  /** [[builder]] plus a PERSISTENT catalog (SURVEY §2.1 S11): the
    * Hive-compatible metastore replaces the reference's Glue crawler —
    * `saveAsTable` registrations outlive the session, so a NEW
    * SparkSession pointed at the same warehouse resolves silver/gold
    * tables by bare name, exactly what a reference user's
    * `SELECT ... FROM gold_draw_summary` expects. Locally the metastore is
    * embedded Derby under `<warehouseDir>/metastore_db`; on a cluster the
    * identical code runs against the shared metastore service (only
    * `javax.jdo.option.ConnectionURL` changes).
    */
  def builderWithCatalog(warehouseDir: String, master: String = "local[*]",
      shufflePartitions: Int = 32): SparkSession.Builder =
    builder(master, shufflePartitions)
      .config("spark.sql.catalogImplementation", "hive")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouseDir/metastore_db;create=true")

  def get(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
