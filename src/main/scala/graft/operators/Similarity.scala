package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CosineSimilarity
import Relational.dsum

/** Similarity search over the `embeddings` table (Array[Float] vectors).
  *
  * Two paths, as a 100 TB design requires:
  *  - brute-force cosine top-k for an explicit (small) query set — cost is
  *    |queries| × N, linear in the corpus, queries broadcast;
  *  - LSH-bucketed candidate generation (random-hyperplane sign bands) for
  *    corpus-wide near-neighbor mining — never an all-pairs product; the
  *    only join is bucket-equality on band keys.
  *
  * All vector math is double-precision higher-order array expressions
  * (zip_with/aggregate) inside whole-stage codegen — no UDFs.
  */
object Similarity {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Sequential-fold double dot product of two float-array columns —
    * bit-reproducible at any parallelism (per-row computation). Interpreted
    * (higher-order functions don't codegen); kept as the composable
    * reference implementation that [[graft.functions.CosineSimilarity]]
    * must match bit-for-bit (asserted in SimilaritySpec).
    */
  def dotExpr(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")

  def normExpr(a: String): Column = sqrt(dotExpr(a, a))

  /** Brute-force cosine top-k: query vectors (vec_id < 10) broadcast against
    * the full corpus; rank per query with deterministic tiebreak.
    */
  def qAnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val pairs = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("nvec"))
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", CosineSimilarity.column(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  val qAnnBruteForceSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
      |           FROM embeddings WHERE vec_id < 10),
      |p AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_sum(list_transform(generate_series(1, len(q.qvec)),
      |      i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(generate_series(1, len(q.qvec)),
      |         i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
      |    AS cosine
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |       ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank,
      |  neighbor_id, cosine
      |FROM p QUALIFY rank <= 5""".stripMargin

  /** Per-label centroids via posexplode + decimal-exact component means —
    * the "multi-column avg" over a vector column; one shuffle on
    * (label, pos).
    */
  def qCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).cast("int").as("pos"))
      .agg((dsum(col("v").cast("double")) / count(lit(1))).as("centroid"),
        count(lit(1)).as("n_vectors"))

  val qCentroidsSql: String =
    """WITH x AS (
      |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
      |    unnest(embedding) AS v
      |  FROM embeddings)
      |SELECT label, pos,
      |  CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |    / COUNT(*) AS centroid,
      |  COUNT(*) AS n_vectors
      |FROM x GROUP BY 1, 2""".stripMargin

  private val Planes = 16 // 2 bands x 8 hyperplanes

  /** LSH candidate pairs: vectors that share ≥1 sign-band bucket
    * (`band0`/`band1` of [[portableSignBuckets]]), each pair once.
    */
  private[operators] def bandedPairs(buckets: DataFrame): DataFrame = {
    // persisted: both self-join sides read it — without it each side
    // re-runs the full signature computation (the 16×dim interpreted-HOF
    // projections), which doubles the dominant cost of the query
    val banded = buckets.select(col("vec_id"),
      explode(array(
        struct(lit(0).as("band"), col("band0").as("key")),
        struct(lit(1).as("band"), col("band1").as("key")))).as("bk"))
      .select(col("vec_id"), col("bk.band"), col("bk.key"))
      .persist()
    val a = banded.as("a")
    // shuffle_hash, never broadcast: a bucket self-join's OUTPUT is
    // quadratic in bucket size, so it must partition by the bucket key —
    // a size-based broadcast (the banded frame can look tiny to the
    // planner) would pin the pair expansion to the probe side's
    // partitioning, one task on a single-split input
    val b = banded.as("b").hint("shuffle_hash")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** Deterministic pseudo-random hyperplanes as ONE nested array:
    * `pw[p][d]` = weight of plane p, dimension d, an integer in
    * [−500000, 500000] derived from the first 12 hex digits of
    * md5("plane:p:d") — arithmetic DuckDB evaluates identically. `conv(hex,
    * 16, 10)` computes the identical value the q53 oracle SQL spells as a
    * 12-digit positional sum. Built in a 1-row frame so the Planes×dim
    * hash evaluations happen once, then broadcast: the planes are
    * constants, and constants ride along rows instead of forcing a
    * (vec, plane, dim) explode-join.
    */
  def portablePlanesNested(s: SparkSession, dim: Int): DataFrame =
    s.range(1).select(expr(
      s"""transform(sequence(0, ${Planes - 1}), p ->
         |  transform(sequence(0, ${dim - 1}), d ->
         |    CAST(conv(substring(md5(CAST(concat_ws(':', 'plane', p, d) AS BINARY)),
         |                        1, 12), 16, 10) AS BIGINT) % 1000001 - 500000))"""
        .stripMargin).as("pw"))

  /** Per-vector sign bits against the 16 portable hyperplanes — the raw
    * material both band layouts ([[portableSignBuckets]]'s 2×8 for
    * near-dup mining, [[qRecallAudit]]'s 4×4 for neighbor candidates)
    * aggregate from.
    */
  def portableSignBits(s: SparkSession, e: DataFrame, dim: Int): DataFrame =
    e.select(col("vec_id"),
        expr("transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000) AS BIGINT))")
          .as("vq"))
      .crossJoin(broadcast(portablePlanesNested(s, dim)))
      .withColumn("bits", expr(
        """transform(pw, warr -> CASE WHEN
          |  aggregate(zip_with(vq, warr, (a, b) -> a * b),
          |    CAST(0 AS BIGINT), (acc, x) -> acc + x) > 0
          |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .select(col("vec_id"), col("bits"))

  /** Random-hyperplane sign buckets, 2 band keys of 8 sign bits per
    * vector, over integer-quantized projections: vector components round
    * to millionths (exact in both engines), plane weights are integers, so
    * each projection is an exact int64 sum — its SIGN (the LSH bit) is
    * engine-independent, making the whole bucketing oracle-checkable with
    * zero float-order sensitivity. Fully ROW-LOCAL: each vector
    * zip_with-dots the broadcast nested plane weights, takes signs, and
    * folds its own band keys — no explode, no join fan-out, zero shuffles
    * before the candidate join.
    */
  def portableSignBuckets(s: SparkSession, e: DataFrame, dim: Int): DataFrame =
    portableSignBits(s, e, dim)
      .select(col("vec_id"),
        expr("aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, i) -> acc + shiftleft(bits[i], i))").as("band0"),
        expr("aggregate(sequence(8, 15), CAST(0 AS BIGINT), (acc, i) -> acc + shiftleft(bits[i], i - 8))").as("band1"))

  /** LSH-bucketed near-neighbor mining: top-20 candidate pairs by exact
    * cosine (embedding-cosine near-dup surface). Uses the portable
    * bucketing so the full pipeline — planes, quantized projections, band
    * keys, candidate join, cosine re-rank — is DuckDB-oracle-gated.
    */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val vecs = e.select(col("vec_id"), col("embedding"))
    // exact-cosine re-rank of the candidates → global top-20, full tiebreak
    bandedPairs(portableSignBuckets(s, e, 64))
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .withColumn("cosine", CosineSimilarity.column(col("va"), col("vb")))
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** DuckDB re-derivation of [[qAnnLsh]]: same md5-derived integer planes,
    * same quantized int64 projections, same band keys and candidate join,
    * same double cosine re-rank (the q51-proven list_sum pattern).
    */
  val qAnnLshSql: String = {
    // hex-prefix integer via one cast (same value as the positional-digit
    // sum, fair DuckDB speed — the anchor must not be flattered by a slow
    // oracle spelling)
    val v48 = "CAST(CAST('0x' || substring(h, 1, 12) AS UBIGINT) AS BIGINT)"
    def cos(a: String, b: String) =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
         |         i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(generate_series(1, len($b)),
         |         i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin
    s"""WITH ph AS (
       |  SELECT pp.plane, dd.dim0,
       |    md5('plane:' || pp.plane || ':' || dd.dim0) AS h
       |  FROM (SELECT unnest(generate_series(0, 15)) AS plane) pp
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim0) dd),
       |planes AS (
       |  SELECT plane, dim0, (($v48) % 1000001) - 500000 AS w FROM ph),
       |vq AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim0,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vq
       |  FROM embeddings),
       |proj AS (
       |  SELECT vq.vec_id, planes.plane, SUM(vq.vq * planes.w) AS proj
       |  FROM vq JOIN planes ON planes.dim0 = vq.dim0
       |  GROUP BY vq.vec_id, planes.plane),
       |b AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN proj > 0 AND plane < 8 THEN (1 << plane) ELSE 0 END) AS band0,
       |    SUM(CASE WHEN proj > 0 AND plane >= 8 THEN (1 << (plane - 8)) ELSE 0 END) AS band1
       |  FROM proj GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, 0 AS band, band0 AS k FROM b
       |  UNION ALL SELECT vec_id, 1 AS band, band1 AS k FROM b),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.k = y.k AND x.vec_id < y.vec_id),
       |r AS (
       |  SELECT cand.id_a, cand.id_b,
       |    ${cos("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings ea ON ea.vec_id = cand.id_a
       |  JOIN embeddings eb ON eb.vec_id = cand.id_b)
       |SELECT id_a, id_b, cosine FROM r
       |ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 20""".stripMargin
  }

  /** Coarse-quantizer centroids as reassembled float vectors, one per
    * cluster id (here the `label` column; in a real corpus a clustering
    * pass produces it — the IVF mechanics are identical). Component means
    * accumulate as decimals ([[Relational.dsum]]) so the centroid floats —
    * and every probe ranking derived from them — are partition-order
    * independent and re-derivable by the q54 oracle.
    */
  def centroidVectors(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((dsum(col("v").cast("double")) / count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> CAST(x.m AS FLOAT))")
        .as("cvec"))

  /** IVF-style ANN: queries rank the (tiny, broadcast) centroid table,
    * probe the nProbe nearest inverted lists, and re-rank ONLY those
    * lists' vectors exactly. Work = |queries| × (corpus/nClusters × nProbe)
    * instead of |queries| × corpus — the standard coarse-quantization
    * scale path next to LSH (q53).
    */
  def annIvf(e: DataFrame, k: Int = 5, nProbe: Int = 2): DataFrame = {
    val cents = centroidVectors(e)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("label").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cscore", CosineSimilarity.column(col("qvec"), col("cvec")))
      .withColumn("crank", row_number().over(probeW))
      .where(col("crank") <= nProbe)
      .select(col("query_id"), col("qvec"), col("label"))
    val cands = probes.join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nvec"), col("label")), Seq("label"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", CosineSimilarity.column(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    annIvf(t(s, dir, "embeddings"))

  /** DuckDB re-derivation of [[qAnnIvf]]: decimal-exact centroid floats,
    * broadcast probe ranking with the same (score, label) tiebreak, then
    * exact re-rank of the probed lists only — numerics via the q51-proven
    * list_sum cosine pattern.
    */
  val qAnnIvfSql: String = {
    def cos(a: String, b: String) =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
         |         i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(generate_series(1, len($b)),
         |         i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin
    s"""WITH comp AS (
       |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |cm AS (
       |  SELECT label, pos,
       |    CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM comp GROUP BY label, pos),
       |cents AS (
       |  SELECT label,
       |    list_transform(list(m ORDER BY pos ASC), x -> CAST(x AS FLOAT)) AS cvec
       |  FROM cm GROUP BY label),
       |q AS (SELECT vec_id AS query_id, embedding AS qvec
       |      FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, q.qvec, cents.label,
       |    ${cos("q.qvec", "cents.cvec")} AS cscore
       |  FROM q CROSS JOIN cents),
       |probes AS (
       |  SELECT query_id, qvec, label FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cscore DESC, label ASC) AS crank
       |    FROM scored) WHERE crank <= 2),
       |cands AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    ${cos("p.qvec", "e.embedding")} AS cosine
       |  FROM probes p JOIN embeddings e ON e.label = p.label
       |  WHERE e.vec_id <> p.query_id)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |       ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank,
       |  neighbor_id, cosine
       |FROM cands QUALIFY rank <= 5""".stripMargin
  }

  /** One k-means reassignment step over the label-seeded centroids — the
    * embedding-clustering primitive a SemDeDup-style curation pipeline
    * iterates (cluster, then near-dup-prune within clusters): assign every
    * vector to its max-cosine centroid and report the (label, assigned)
    * confusion counts. Centroids are bounded (nClusters ≪ corpus), so they
    * broadcast; the scan is one narrow pass over the vectors with a
    * per-vector top-1 (WindowGroupLimit over nClusters rows). Integer
    * output: the cosine path is the q54-proven bit-exact centroid+cosine
    * machinery, and ties break on (cosine DESC, centroid label ASC).
    */
  def qKmeansReassign(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = centroidVectors(e).select(col("label").as("clabel"), col("cvec"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("clabel").asc)
    e.select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("sim", CosineSimilarity.column(col("embedding"), col("cvec")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("label"), col("clabel"))
      .agg(count(lit(1)).as("n_vectors"))
      .select(col("label"), col("clabel").as("assigned"), col("n_vectors"))
  }

  /** DuckDB re-derivation of [[qKmeansReassign]]: decimal-exact centroid
    * floats (the q52/q54 pattern), the q51-proven list_sum cosine, same
    * (sim, label) tiebreak, integer confusion counts.
    */
  val qKmeansReassignSql: String = {
    def cos(a: String, b: String) =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
         |         i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(generate_series(1, len($b)),
         |         i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin
    s"""WITH comp AS (
       |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |cm AS (
       |  SELECT label, pos,
       |    CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM comp GROUP BY label, pos),
       |cents AS (
       |  SELECT label AS clabel,
       |    list_transform(list(m ORDER BY pos ASC), x -> CAST(x AS FLOAT)) AS cvec
       |  FROM cm GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.clabel,
       |    ${cos("e.embedding", "c.cvec")} AS sim
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, label, clabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY sim DESC, clabel ASC) AS rn
       |    FROM scored) WHERE rn = 1)
       |SELECT label, clabel AS assigned, COUNT(*) AS n_vectors
       |FROM assigned GROUP BY label, clabel""".stripMargin
  }

  /** Symmetric int8 quantization round-trip, per label: each vector
    * quantizes against its own max-abs scale (q = round(127·v/vmax)), and
    * the output aggregates the reconstruction error — sum of squared error
    * and worst absolute error — the compression-loss report a vector-store
    * ingestion pipeline runs before committing to int8 storage. Entirely
    * row-local array math (no shuffle before the final label aggregate);
    * every step is IEEE double arithmetic identical in the oracle, and the
    * SSE accumulates as DECIMAL(28,12) so partition order never shows.
    */
  def qQuantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    t(s, dir, "embeddings")
      .withColumn("vmax", expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("err", expr(
        """CASE WHEN vmax = 0 THEN transform(embedding, x -> CAST(0 AS DOUBLE))
          |ELSE transform(embedding, x ->
          |  CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) * 127 / vmax) * vmax / 127)
          |END""".stripMargin))
      .withColumn("err2", expr("aggregate(err, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)"))
      .withColumn("max_abs_err_row", expr("array_max(transform(err, x -> abs(x)))"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("err2").cast(DecimalType(28, 12))).cast("double").as("sse"),
        max(col("max_abs_err_row")).as("max_abs_err"))
  }

  val qQuantizeEmbeddingsSql: String =
    """WITH v AS (
      |  SELECT label, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS vmax
      |  FROM embeddings),
      |e AS (
      |  SELECT label,
      |    CASE WHEN vmax = 0 THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
      |         ELSE list_transform(embedding, x ->
      |           CAST(x AS DOUBLE) - ROUND(CAST(x AS DOUBLE) * 127 / vmax) * vmax / 127)
      |    END AS err
      |  FROM v),
      |s AS (
      |  SELECT label,
      |    list_sum(list_transform(err, x -> x * x)) AS err2,
      |    list_max(list_transform(err, x -> abs(x))) AS max_abs_err_row
      |  FROM e)
      |SELECT label, COUNT(*) AS n_vectors,
      |  CAST(CAST(SUM(CAST(err2 AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) AS sse,
      |  MAX(max_abs_err_row) AS max_abs_err
      |FROM s GROUP BY label""".stripMargin

  /** SemDeDup similarity threshold: chosen so the synthetic clustered
    * embeddings (intra-cluster cosines top out near 0.47) yield a real
    * prune rate (~5% at sf0.01, ~18% at sf0.1) — the rule, not the value,
    * is the operator.
    */
  private val SemDedupTau = 0.35

  /** SemDeDup prune step (Abbas et al. 2023, arXiv:2303.09540): within
    * each cluster, drop every vector that has a LOWER-id neighbor above
    * the cosine threshold, so the lowest-index member of each duplicate
    * group survives as its representative. [[qKmeansReassign]] (q94) is
    * the companion clustering step; together they are the embedding-dedup
    * scale path: pairwise cosine work is Σ|cluster|² — never corpus² —
    * and the self-join key is the cluster id, which at production scale
    * has ~corpus/avg_cluster_size values, so the shuffle partitions
    * evenly and no all-pairs path exists. Output is one row per vector:
    * the keep decision plus the lower-id near-dup count as evidence.
    * Cosines ride the q51-proven bit-exact machinery, so the threshold
    * comparison is engine-independent.
    */
  def qSemdedupPrune(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pruned = a.join(b, Seq("label"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", CosineSimilarity.column(col("va"), col("vb")))
      .where(col("sim") > lit(SemDedupTau))
      .groupBy(col("id_b"))
      .agg(count(lit(1)).as("n_dups_lower"))
      .withColumnRenamed("id_b", "vec_id")
    e.select(col("vec_id"), col("label"))
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"),
        col("n_dups_lower").isNull.as("keep"))
  }

  /** DuckDB re-derivation of [[qSemdedupPrune]]: same intra-cluster
    * lower-id pair rule over the q51-proven list_sum cosine.
    */
  val qSemdedupPruneSql: String = {
    def cos(a: String, b: String) =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
         |         i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(generate_series(1, len($b)),
         |         i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin
    s"""WITH p AS (
       |  SELECT b.vec_id AS vec_id, COUNT(*) AS n_dups_lower
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${cos("a.embedding", "b.embedding")} > CAST($SemDedupTau AS DOUBLE)
       |  GROUP BY b.vec_id)
       |SELECT e.vec_id, e.label,
       |  COALESCE(p.n_dups_lower, 0) AS n_dups_lower,
       |  p.vec_id IS NULL AS keep
       |FROM embeddings e LEFT JOIN p ON p.vec_id = e.vec_id""".stripMargin
  }

  /** Cluster-quality audit (centroid-margin silhouette): per vector, the
    * cosine to its OWN centroid vs the best OTHER centroid; per cluster,
    * the mean of both, the mean margin, and how many vectors sit closer
    * to a foreign centroid. The go/no-go report before trusting a
    * clustering for SemDeDup-style pruning (q94 assigns, q102 prunes,
    * this grades). Work = corpus × nClusters against the bounded centroid
    * table (collected — one row per cluster by construction) — one
    * narrow pass, one bounded-key aggregate; means accumulate as decimals
    * ([[Relational.davg]]) so partition order never shows.
    */
  def qClusterSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // The centroid table is BOUNDED (one row per cluster, the k-means
    // contract), so it is collected and own_cos/best_other are row-local
    // expressions: one scan, one bounded-key aggregate, no pivot
    // exchange. Bit-identity with the per-pair spelling: each sim is the
    // same codegen'd cosine over the same float vectors (collected floats
    // round-trip exactly as literals), and greatest(...) over the other
    // nClusters−1 sims is the same null-skipping double max as
    // max(when(≠)).
    val cents = centroidVectors(e)
      .select(col("label").as("clabel"), col("cvec")).collect()
    val sims = cents.map { r =>
      (r.get(0), CosineSimilarity.column(col("embedding"),
        typedLit(r.getSeq[Float](1))))
    }
    val own = sims.tail.foldLeft(
      when(col("label") === lit(sims.head._1), sims.head._2)) {
      case (acc, (lab, c)) => acc.when(col("label") === lit(lab), c)
    }
    val others = sims.map { case (lab, c) =>
      when(col("label") =!= lit(lab), c)
    }
    val per = e.select(col("vec_id"), col("label"), col("embedding"))
      .select(col("vec_id"), col("label"), own.as("own_cos"),
        (if (others.length >= 2) greatest(others.toSeq: _*)
         else lit(null).cast("double")).as("best_other"))
    per.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        Relational.davg(col("own_cos")).as("mean_own_cos"),
        Relational.davg(col("best_other")).as("mean_best_other"),
        Relational.davg(col("own_cos") - col("best_other")).as("mean_margin"),
        sum(when(col("best_other") > col("own_cos"), 1L).otherwise(0L))
          .as("n_misassigned"))
  }

  /** DuckDB re-derivation of [[qClusterSilhouette]]: the q94 decimal-exact
    * centroid pattern, conditional-max own/other split, davg means.
    */
  val qClusterSilhouetteSql: String = {
    def cos(a: String, b: String) =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
         |         i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         |     * sqrt(list_sum(list_transform(generate_series(1, len($b)),
         |         i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin
    import Relational.davgSql
    s"""WITH comp AS (
       |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |cm AS (
       |  SELECT label, pos,
       |    CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*) AS m
       |  FROM comp GROUP BY label, pos),
       |cents AS (
       |  SELECT label AS clabel,
       |    list_transform(list(m ORDER BY pos ASC), x -> CAST(x AS FLOAT)) AS cvec
       |  FROM cm GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.clabel,
       |    ${cos("e.embedding", "c.cvec")} AS sim
       |  FROM embeddings e CROSS JOIN cents c),
       |per AS (
       |  SELECT vec_id, label,
       |    MAX(CASE WHEN clabel = label THEN sim END) AS own_cos,
       |    MAX(CASE WHEN clabel <> label THEN sim END) AS best_other
       |  FROM scored GROUP BY vec_id, label)
       |SELECT label, COUNT(*) AS n_vectors,
       |  ${davgSql("own_cos")} AS mean_own_cos,
       |  ${davgSql("best_other")} AS mean_best_other,
       |  ${davgSql("own_cos - best_other")} AS mean_margin,
       |  CAST(SUM(CASE WHEN best_other > own_cos THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_misassigned
       |FROM per GROUP BY label""".stripMargin
  }

  /** Deterministic ±1 sign matrix for [[qRandomProjection]] — Achlioptas-
    * style Johnson-Lindenstrauss projection entries, derived from md5 so
    * both engines (and every run) share the identical matrix as literals.
    */
  private val rpDims = 8
  private[operators] def rpSign(k: Int, j: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_$k:$j".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** q118: random-projection compression of the embedding table — the JL
    * dimensionality-reduction step an embedding pipeline runs before
    * storing/indexing at scale (64 → 8 dims here; sibling of q91's int8
    * quantization, which shrinks precision where this shrinks dimension).
    * Projection is a distributed sparse matmul: one posexplode per
    * component joined to the BROADCAST sign matrix, partial-aggregated on
    * (vec_id, k) — the 100 TB shape, no per-row lambda math whose float
    * addition order could drift. Every sum is decimal-accumulated, so the
    * per-label projection means and L1 mass are bit-stable at any
    * partitioning and hash-comparable to DuckDB.
    */
  def qRandomProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r20: the posexplode ×64 → broadcast sign join ×8 → decimal partial
    // aggregate pipeline all planned into the 1-task scan stage (1.1 s CPU
    // in ONE task — OPTIMIZATION_r20.md). widenScan on the unique vec_id
    // spreads it; decimal-exact sums keep the result partitioning-independent.
    val emb = graft.Tables.widenScan(
      t(s, dir, "embeddings").select(col("vec_id"), col("label"), col("embedding")),
      col("vec_id"))
    val r = Seq.tabulate(rpDims, 64)((k, j) => (j, k, rpSign(k, j)))
      .flatten.toDF("pos", "k", "sign")
    val proj = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(broadcast(r), Seq("pos"))
      .groupBy(col("vec_id"), col("label"), col("k"))
      .agg(sum((col("v").cast("double") * col("sign"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double").as("proj"))
    proj.groupBy(col("label"), col("k"))
      .agg(
        count(lit(1)).as("n"),
        Relational.davg(col("proj")).as("mean_proj"),
        Relational.dsum(abs(col("proj"))).as("l1_mass"))
      .select(col("label"), col("k"), col("n"), col("mean_proj"), col("l1_mass"))
  }

  val qRandomProjectionSql: String = {
    val rRows = (for (k <- 0 until rpDims; j <- 0 until 64)
      yield s"($j, $k, ${rpSign(k, j)})").mkString(", ")
    s"""WITH r(pos, k, sign) AS (SELECT * FROM (VALUES $rRows)),
       |comp AS (
       |  SELECT vec_id, label,
       |    generate_subscripts(embedding, 1) - 1 AS pos,
       |    unnest(embedding) AS v
       |  FROM embeddings),
       |proj AS (
       |  SELECT vec_id, label, k,
       |    CAST(CAST(SUM(CAST(CAST(v AS DOUBLE) * sign AS DECIMAL(18,6)))
       |         AS VARCHAR) AS DOUBLE) AS proj
       |  FROM comp JOIN r USING (pos)
       |  GROUP BY vec_id, label, k)
       |SELECT label, k, COUNT(*) AS n,
       |  ${Relational.davgSql("proj")} AS mean_proj,
       |  ${Relational.dsumSql("abs(proj)")} AS l1_mass
       |FROM proj GROUP BY label, k""".stripMargin
  }

  /** q137: in-engine ANN recall audit — for each q51 query vector, what
    * fraction of its true (brute-force) top-5 neighbors would an LSH
    * index find (≥1 shared band key)? This is the quality loop an ANN
    * deployment runs continuously: ground truth on a small query sample,
    * candidate-generation recall measured against it, no separate
    * evaluation stack. Uses 4 bands × 4 bits over the same 16 portable
    * planes — the NEIGHBOR-tuned layout (q53's 2×8 near-dup layout is
    * deliberately too selective for top-5 neighbors and audits at ~0
    * recall; narrower bands trade candidate volume for recall, and this
    * query is exactly the tool that exposes that trade).
    */
  def qRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val truth = qAnnBruteForce(s, dir).select(col("query_id"), col("neighbor_id"))
    def band(j: Int) = expr(
      s"aggregate(sequence(${4 * j}, ${4 * j + 3}), CAST(0 AS BIGINT), " +
        s"(acc, i) -> acc + shiftleft(bits[i], i - ${4 * j}))")
    // persisted: qb and nb would otherwise each re-run the full
    // sign-projection pipeline over the corpus
    val b = portableSignBits(s, e, 64)
      .select(col("vec_id"), band(0).as("b0"), band(1).as("b1"),
        band(2).as("b2"), band(3).as("b3"))
      .persist()
    // only the 10 query vectors can match the truth side — broadcast 10
    // rows, not band keys for the whole corpus
    val qb = b.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("b0").as("qb0"),
        col("b1").as("qb1"), col("b2").as("qb2"), col("b3").as("qb3"))
    val nb = b.select(col("vec_id").as("neighbor_id"), col("b0").as("nb0"),
      col("b1").as("nb1"), col("b2").as("nb2"), col("b3").as("nb3"))
    truth
      .join(broadcast(qb), Seq("query_id"))
      .join(nb, Seq("neighbor_id"))
      .withColumn("hit",
        col("qb0") === col("nb0") || col("qb1") === col("nb1") ||
          col("qb2") === col("nb2") || col("qb3") === col("nb3"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("k").cast("double"), 6))
  }

  val qRecallAuditSql: String = {
    val v48 = "CAST(CAST('0x' || substring(h, 1, 12) AS UBIGINT) AS BIGINT)"
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
       |           FROM embeddings WHERE vec_id < 10),
       |p AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(generate_series(1, len(q.qvec)),
       |      i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(generate_series(1, len(q.qvec)),
       |         i -> CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
       |         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))
       |    AS cosine
       |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |    FROM p) WHERE rank <= 5),
       |ph AS (
       |  SELECT pp.plane, dd.dim0,
       |    md5('plane:' || pp.plane || ':' || dd.dim0) AS h
       |  FROM (SELECT unnest(generate_series(0, 15)) AS plane) pp
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim0) dd),
       |planes AS (
       |  SELECT plane, dim0, (($v48) % 1000001) - 500000 AS w FROM ph),
       |vq AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim0,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vq
       |  FROM embeddings),
       |proj AS (
       |  SELECT vq.vec_id, planes.plane, SUM(vq.vq * planes.w) AS proj
       |  FROM vq JOIN planes ON planes.dim0 = vq.dim0
       |  GROUP BY vq.vec_id, planes.plane),
       |b AS (
       |  SELECT vec_id,
       |    SUM(CASE WHEN proj > 0 AND plane < 4 THEN (1 << plane) ELSE 0 END) AS b0,
       |    SUM(CASE WHEN proj > 0 AND plane BETWEEN 4 AND 7 THEN (1 << (plane - 4)) ELSE 0 END) AS b1,
       |    SUM(CASE WHEN proj > 0 AND plane BETWEEN 8 AND 11 THEN (1 << (plane - 8)) ELSE 0 END) AS b2,
       |    SUM(CASE WHEN proj > 0 AND plane >= 12 THEN (1 << (plane - 12)) ELSE 0 END) AS b3
       |  FROM proj GROUP BY vec_id),
       |hits AS (
       |  SELECT t.query_id,
       |    CASE WHEN qb.b0 = nb.b0 OR qb.b1 = nb.b1 OR qb.b2 = nb.b2
       |              OR qb.b3 = nb.b3 THEN 1 ELSE 0 END AS hit
       |  FROM truth t
       |  JOIN b qb ON qb.vec_id = t.query_id
       |  JOIN b nb ON nb.vec_id = t.neighbor_id)
       |SELECT query_id, COUNT(*) AS k,
       |  CAST(SUM(hit) AS BIGINT) AS n_found,
       |  ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
       |FROM hits GROUP BY query_id""".stripMargin
  }

  /** q144: per-dimension embedding audit — count, mean, variance, min,
    * max, and zero fraction for each of the 64 vector components. The
    * feature-store QA report that catches dead dimensions (var = 0),
    * mis-scaled components, and all-zero padding before a training run
    * reads the table. One posexplode + one hash aggregate keyed on `pos`
    * (bounded domain = vector dimensionality), partial-aggregated
    * map-side, so the shuffle carries dims × partitions rows regardless
    * of corpus size.
    *
    * Float determinism: means and power sums follow the shared decimal
    * convention — v through DECIMAL(18,6), v² through round(v*v, 6)
    * BEFORE the decimal sum (a decimal×decimal square would bind
    * different intermediate scales in the two engines); min/max of
    * float-widened doubles are exact, no rounding needed.
    */
  def qDimStats(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos0", "v0")))
      .select((col("pos0") + 1).cast("int").as("pos"), col("v0").cast("double").as("v"))
      .groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(dsum(col("v")) / count(lit(1)), 6).as("mean_v"),
        round(
          sum(round(col("v") * col("v"), 6).cast(DecimalType(28, 6))).cast("double")
            / count(lit(1))
            - (dsum(col("v")) / count(lit(1))) * (dsum(col("v")) / count(lit(1))),
          6).as("var_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        round(lit(100.0) * sum(when(col("v") === 0.0, 1L).otherwise(0L))
          / count(lit(1)), 4).as("pct_zero"))
  }

  val qDimStatsSql: String =
    """WITH x AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings)
      |SELECT pos, COUNT(*) AS n_vecs,
      |  ROUND(CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |        / COUNT(*), 6) AS mean_v,
      |  ROUND(CAST(CAST(SUM(CAST(ROUND(v * v, 6) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
      |          / COUNT(*)
      |        - (CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*))
      |          * (CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)),
      |    6) AS var_v,
      |  MIN(v) AS min_v,
      |  MAX(v) AS max_v,
      |  ROUND(CAST(100.0 AS DOUBLE) * SUM(CASE WHEN v = 0.0 THEN 1 ELSE 0 END)
      |        / COUNT(*), 4) AS pct_zero
      |FROM x GROUP BY pos""".stripMargin

  /** q175: per-label centroid drift — each label's mean embedding
    * compared to the corpus centroid (cosine and L2). The cluster-QA /
    * source-drift screen next to q144's per-dimension stats: a label
    * whose centroid sits far from the corpus centre is a candidate
    * mixture outlier (mislabeled slice, modality gap, collapsed
    * encoder).
    *
    * Scale shape: one posexplode pass aggregated on (label, pos) —
    * dimension-bounded keys, map-side combinable, exact DECIMAL sums;
    * the corpus centroid reuses the SAME pass re-aggregated by pos, and
    * the closing join/aggregate frames are |labels|·dims rows. All
    * cross-engine float sums follow the round-then-DECIMAL q93
    * convention, so Σ order never matters.
    */
  def qCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v0")))
      .select(col("label"), (col("pos0") + 1).cast("int").as("pos"),
        col("v0").cast("double").as("v"))
      .persist()
    val byLabel = x.groupBy(col("label"), col("pos")).agg(
      count(lit(1)).as("n_vecs"),
      (sum(col("v").cast(DecimalType(18, 6))).cast("double")
        / count(lit(1))).as("mu"))
    val global = x.groupBy(col("pos")).agg(
      (sum(col("v").cast(DecimalType(18, 6))).cast("double")
        / count(lit(1))).as("gmu"))
    byLabel.join(broadcast(global), Seq("pos"))
      .groupBy(col("label"))
      .agg(
        max(col("n_vecs")).as("n_vecs"),
        sum(round(col("mu") * col("gmu"), 9).cast(DecimalType(28, 9)))
          .cast("double").as("dot"),
        sum(round(col("mu") * col("mu"), 9).cast(DecimalType(28, 9)))
          .cast("double").as("na"),
        sum(round(col("gmu") * col("gmu"), 9).cast(DecimalType(28, 9)))
          .cast("double").as("nb"),
        sum(round((col("mu") - col("gmu")) * (col("mu") - col("gmu")), 9)
          .cast(DecimalType(28, 9))).cast("double").as("sq"))
      .select(col("label"), col("n_vecs"),
        round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 6)
          .as("cos_to_global"),
        round(sqrt(col("sq")), 6).as("l2_to_global"))
  }

  val qCentroidDriftSql: String =
    """WITH x AS (
      |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |bl AS (
      |  SELECT label, pos, COUNT(*) AS n_vecs,
      |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      / COUNT(*) AS mu
      |  FROM x GROUP BY 1, 2),
      |g AS (
      |  SELECT pos,
      |    CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      / COUNT(*) AS gmu
      |  FROM x GROUP BY 1),
      |a AS (
      |  SELECT bl.label, MAX(bl.n_vecs) AS n_vecs,
      |    CAST(CAST(SUM(CAST(ROUND(bl.mu * g.gmu, 9) AS DECIMAL(28,9)))
      |      AS VARCHAR) AS DOUBLE) AS dot,
      |    CAST(CAST(SUM(CAST(ROUND(bl.mu * bl.mu, 9) AS DECIMAL(28,9)))
      |      AS VARCHAR) AS DOUBLE) AS na,
      |    CAST(CAST(SUM(CAST(ROUND(g.gmu * g.gmu, 9) AS DECIMAL(28,9)))
      |      AS VARCHAR) AS DOUBLE) AS nb,
      |    CAST(CAST(SUM(CAST(ROUND((bl.mu - g.gmu) * (bl.mu - g.gmu), 9)
      |      AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE) AS sq
      |  FROM bl JOIN g USING (pos) GROUP BY 1)
      |SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      |  ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_to_global,
      |  ROUND(SQRT(sq), 6) AS l2_to_global
      |FROM a""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q175_centroid_drift" -> (qCentroidDrift _),
    "q144_dim_stats" -> (qDimStats _),
    "q137_recall_audit" -> (qRecallAudit _),
    "q118_random_projection" -> (qRandomProjection _),
    "q104_cluster_silhouette" -> (qClusterSilhouette _),
    "q51_ann_brute_force" -> (qAnnBruteForce _),
    "q52_centroids" -> (qCentroids _),
    "q53_ann_lsh" -> (qAnnLsh _),
    "q54_ann_ivf" -> (qAnnIvf _),
    "q91_quantize_embeddings" -> (qQuantizeEmbeddings _),
    "q94_kmeans_reassign" -> (qKmeansReassign _),
    "q102_semdedup_prune" -> (qSemdedupPrune _))

  val oracle: Map[String, String] = Map(
    "q175_centroid_drift" -> qCentroidDriftSql,
    "q144_dim_stats" -> qDimStatsSql,
    "q137_recall_audit" -> qRecallAuditSql,
    "q118_random_projection" -> qRandomProjectionSql,
    "q104_cluster_silhouette" -> qClusterSilhouetteSql,
    "q51_ann_brute_force" -> qAnnBruteForceSql,
    "q52_centroids" -> qCentroidsSql,
    "q53_ann_lsh" -> qAnnLshSql,
    "q54_ann_ivf" -> qAnnIvfSql,
    "q91_quantize_embeddings" -> qQuantizeEmbeddingsSql,
    "q94_kmeans_reassign" -> qKmeansReassignSql,
    "q102_semdedup_prune" -> qSemdedupPruneSql)
}
