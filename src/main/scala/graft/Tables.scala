package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst's column pruning and filter pushdown
  * reach the scan; at cluster scale the same call works on a partitioned
  * directory unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize a raw events frame to the `ts` contract: nanos-since-epoch
    * BIGINT, regardless of how the generator encoded the column. Older
    * testdata drops stored parquet timestamp[ns] (which Spark can only
    * read as long, via the nanosAsLong conf); the r10 drop stores
    * timestamp[us], which Spark reads as TIMESTAMP_NTZ — converted back
    * to nanos here (session tz is UTC, matching the oracle's epoch_ns(ts)
    * over the same files). Works on batch and streaming frames alike.
    * Batch loads avoid this in-plan projection entirely via the one-time
    * ingest normalization in [[load]]; this stays the streaming/fallback
    * path.
    */
  def eventsNanos(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType) df
    else df.withColumn("ts",
      org.apache.spark.sql.functions.expr(
        "unix_micros(cast(ts as timestamp)) * 1000L"))

  /** Scratch location of the once-per-drop normalized events copy, keyed
    * by (source path, size, mtime) so a new generator drop re-normalizes.
    */
  private val normCache = new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The (cache key, scratch dst) the normalization uses for the CURRENT
    * drop of `sfDir`'s events file — pure path math, no side effects. The
    * one derivation [[normalizedEventsPath]] publishes to; package-private
    * so specs can drive publish/debris/race scenarios against the real dst.
    */
  private[graft] def normTarget(spark: SparkSession, sfDir: String): (String, org.apache.hadoop.fs.Path) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val srcPath = new Path(s"$sfDir/events.parquet")
    val srcFs = srcPath.getFileSystem(conf)
    val st = srcFs.getFileStatus(srcPath)
    val qualified = srcFs.makeQualified(srcPath).toString
    val key = s"$qualified:${st.getLen}:${st.getModificationTime}"
    val srcTag = md5(qualified).take(12)
    (key, new Path(new Path(sys.props("java.io.tmpdir")),
      s"graft_norm_events_${srcTag}_${md5(key).take(12)}"))
  }

  /** Forget memoized normalization results so a spec can force the
    * publish path to re-run for a key this process has already seen. */
  private[graft] def resetNormCacheForTests(): Unit = normCache.clear()

  /** One-time ingest normalization (the bronze→silver step of a real
    * lake): when the generator encodes `ts` as a physical parquet
    * timestamp, rewrite the events table ONCE per data drop into a
    * scratch copy with `ts` as physical BIGINT nanos. Every subsequent
    * batch load reads the normalized file, so time predicates push down
    * to the parquet scan (row-group min/max pruning — the property that
    * keeps a 100 TB event lake prunable) and no per-row timestamp
    * conversion runs inside queries. At cluster scale this is the ingest
    * job's write, not per-query work. Returns None (in-plan projection
    * fallback) if the scratch dir is unwritable.
    *
    * Robustness (ADVICE r11): all probes and metadata go through the
    * Hadoop FileSystem API (a non-local default FS works, and the cache
    * key invalidates on remote drops too); the write lands in a
    * process-unique temp dir and is RENAMED into place, so two JVMs that
    * both miss the `_SUCCESS` probe can't interleave writes into one
    * directory — the loser just deletes its copy; and superseded copies
    * of THE SAME source file (older size/mtime — a new generator drop)
    * are purged, while copies of other sources (e.g. a concurrent run at
    * a different SF) are left alone.
    */
  private def normalizedEventsPath(spark: SparkSession, sfDir: String): Option[String] =
    try {
      import org.apache.hadoop.fs.Path
      val conf = spark.sessionState.newHadoopConf()
      val srcPath = new Path(s"$sfDir/events.parquet")
      val (key, dst) = normTarget(spark, sfDir)
      normCache.computeIfAbsent(key, _ =>
        try {
          val tmpRoot = new Path(sys.props("java.io.tmpdir"))
          val fs = tmpRoot.getFileSystem(conf)
          // dst is graft_norm_events_<srcTag>_<keyTag>, both 12 hex chars
          val srcTag = dst.getName.stripPrefix("graft_norm_events_").take(12)
          // purge superseded drops of this source (same srcTag, other key).
          // globStatus returns scheme-QUALIFIED paths (file:/tmp/...) while
          // dst as constructed is not — compare qualified-to-qualified, or
          // every fresh JVM would delete the valid current copy (and with
          // it any file a sibling mid-sweep JVM is reading).
          val dstQ = fs.makeQualified(dst)
          val stale = fs.globStatus(new Path(tmpRoot, s"graft_norm_events_${srcTag}_*"))
          if (stale != null) stale.map(_.getPath).filter(_ != dstQ)
            .foreach(p => try fs.delete(p, true) catch {
              case scala.util.control.NonFatal(_) => ()
            })
          if (!fs.exists(new Path(dst, "_SUCCESS"))) {
            // a dst without _SUCCESS is debris (no publish ever completed
            // — the rename below is atomic) and would make every future
            // rename fail: clear it first
            if (fs.exists(dst)) fs.delete(dst, true)
            val tmp = new Path(tmpRoot,
              s"graft_norm_events_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
            eventsNanos(spark.read.parquet(srcPath.toString))
              .write.mode("overwrite").parquet(tmp.toString)
            // atomic no-overwrite publish: FileContext.rename(NONE) throws
            // if dst already exists, so a race loser can never move its
            // tmp INSIDE the winner's directory (FileSystem.rename's
            // documented move-into behavior) — it just drops its copy.
            // On a store with no AbstractFileSystem binding (e.g. bare
            // s3a) getFileContext throws, the catch drops tmp, and reads
            // degrade to the in-plan projection fallback — correct,
            // just unnormalized; point the scratch dir at a posix/HDFS
            // path there.
            try org.apache.hadoop.fs.FileContext
              .getFileContext(fs.makeQualified(tmpRoot).toUri, conf)
              .rename(fs.makeQualified(tmp), fs.makeQualified(dst))
            catch {
              case scala.util.control.NonFatal(_) =>
                try fs.delete(tmp, true) catch {
                  case scala.util.control.NonFatal(_) => ()
                }
            }
          }
          Some(dst.toString)
        } catch {
          case scala.util.control.NonFatal(_) => None
        })
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name != "events") return spark.read.parquet(s"$sfDir/$name.parquet")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) raw
    else normalizedEventsPath(spark, sfDir) match {
      // footer read happens here: if a sibling process purged this copy
      // between publish and read (new drop mid-run), fall back to the
      // in-plan projection instead of failing the query (ADVICE r11)
      case Some(p) =>
        try spark.read.parquet(p)
        catch { case scala.util.control.NonFatal(_) => eventsNanos(raw) }
      case None => eventsNanos(raw)
    }
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

  /** events with `ts` (nanos-since-epoch long, see Session nanosAsLong
    * config) plus a derived microsecond-precision `ts_utc` timestamp column.
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
