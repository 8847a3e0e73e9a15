package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst's column pruning and filter pushdown
  * reach the scan (an events `ts` predicate evaluates above the
  * [[eventsNanos]] projection instead); at cluster scale the same call
  * works on a partitioned directory unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize a raw events frame to the `ts` contract: nanos-since-epoch
    * BIGINT, regardless of how the generator encoded the column. Current
    * drops store parquet timestamp[us], which Spark reads as TIMESTAMP_NTZ
    * and which is converted back to nanos here (session tz is UTC,
    * matching the oracle's epoch_ns(ts) over the same files). Older drops
    * stored timestamp[ns], which Spark can only read as a long (the
    * nanosAsLong conf in [[Session]]); those pass through unchanged. The
    * one normalization for batch ([[load]]) and streaming
    * ([[loadStream]]) frames alike, so the two paths cannot drift.
    */
  def eventsNanos(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType) df
    else df.withColumn("ts",
      org.apache.spark.sql.functions.expr(
        "unix_micros(cast(ts as timestamp)) * 1000L"))

  /** One table as a DataFrame; events arrive with `ts` normalized by
    * [[eventsNanos]]. A plain read that writes nothing anywhere.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") eventsNanos(df) else df
  }

  /** Raw on-disk schema of a table file, BEFORE any normalization.
    * Streaming file sources must be given this schema: a file stream
    * forced to a *different* schema (e.g. [[load]]'s post-projection
    * LONG `ts`) makes parquet silently reinterpret the physical values
    * instead of converting them.
    */
  def rawSchema(spark: SparkSession, sfDir: String, name: String): org.apache.spark.sql.types.StructType =
    spark.read.parquet(s"$sfDir/$name.parquet").schema

  /** File-source stream over `streamDir` containing copies of `name`'s
    * raw parquet files, normalized to the same contract as [[load]]
    * (events → `ts` nanos). Specs build batch/stream parity pairs through
    * this so a generator change to the physical timestamp encoding can't
    * silently desynchronize the two paths.
    */
  def loadStream(spark: SparkSession, sfDir: String, name: String,
                 streamDir: String, options: Map[String, String] = Map.empty): DataFrame = {
    val reader = options.foldLeft(spark.readStream.schema(rawSchema(spark, sfDir, name))) {
      case (r, (k, v)) => r.option(k, v)
    }
    val df = reader.parquet(streamDir)
    if (name == "events") eventsNanos(df) else df
  }

  /** events with `ts` (nanos-since-epoch long, see [[eventsNanos]])
    * plus a derived microsecond-precision `ts_utc` timestamp column.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events")
      .withColumn("ts_utc", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))

  /** Adaptive scan widening (r20; optimization guide §2.5 "input skew: one
    * huge unsplittable file — repartition immediately after the read").
    *
    * The bench tables are single-row-group parquet files, so their scan
    * stages have effective parallelism 1 regardless of cores — parquet
    * cannot split inside a row group — and every row-dense operator the
    * planner fuses into the scan stage (Expand fan-outs, posexplode ×
    * broadcast-join pipelines, decimal partial aggregation) runs serial
    * (measured: q118's whole 1.1 s CPU pipeline in ONE task; q12's Expand
    * map stage 0.7 s serial). When the PLANNED scan parallelism is below
    * the session default, hash-repartition on xxhash64 of the given key
    * columns (default: every projected column) — deterministic in row
    * values, the guide's retry-safe synthetic-key construction, 2⁶⁴
    * distinct hash values so the spread is uniform at any partition count.
    *
    * Scale adaptivity: on any input whose scan already yields ≥ cores
    * splits — every real multi-row-group/multi-file table, 100 TB
    * included — this is a NO-OP (no exchange enters the plan), so it is
    * driver-side adaptivity like the q85 CC budget switch, not a
    * local-mode tuning constant.
    *
    * Call it on a NARROW projection: the added exchange then moves only
    * the columns the query needs, and the partition probe (`df.rdd` —
    * plans the scan, runs no job) never sees an exchange-bearing subtree.
    * Only correct for consumers whose results are partitioning-independent
    * (exact decimal sums, counts, min/max — the engine's determinism
    * contract); do not feed order-sensitive collectors through it.
    */
  def widenScan(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else {
      import org.apache.spark.sql.functions.{col, xxhash64}
      val ks = if (keys.nonEmpty) keys else df.columns.toSeq.map(col)
      df.repartition(p, xxhash64(ks: _*))
    }
  }

  /** [[widenScan]] on the RAW key columns instead of their xxhash64 —
    * for consumers that aggregate/join on exactly `keys`: the exchange it
    * inserts IS the partitioning the downstream operator requires, so the
    * aggregate's own exchange disappears (one exchange total, placed
    * where it parallelizes the scan-fused work). Needs `keys` with enough
    * distinct values to spread (guide §2.5) — group-by keys in the
    * 10⁴+-cardinality class, not enum columns. Same no-op-at-scale
    * property as [[widenScan]].
    */
  def widenScanOn(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, keys: _*)
  }
}
