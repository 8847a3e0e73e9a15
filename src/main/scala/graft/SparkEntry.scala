package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions.col
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 coverage) to DataFrame
  * builders parameterized by the testdata scale-factor directory; `oracleSql`
  * carries the DuckDB-equivalent SQL for the driver's correctness gate.
  * Queries without an oracle entry are rows-only checked (non-SQL-expressible
  * ops: LSH, simhash, approx sketches).
  */
object SparkEntry {
  /** Flagship query; driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, "/root/testdata/sf0.001")

  def entry(spark: SparkSession, sfDir: String): DataFrame =
    Relational.q1Agg(spark, sfDir)

  /** Fixture draws for the parser-pipeline queries (path-independent of the
    * testdata sfDir; rows-only correctness, deep-checked in ScalaTest).
    */
  private val fixtureGlob =
    s"${sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo")}/data/fixtures/raw/year=*/sorteo=*/*.txt"

  private def fixtureSilver(s: SparkSession) = {
    val draws = graft.parse.Silver.parseDraws(graft.parse.Silver.rawDraws(s, fixtureGlob))
    (graft.parse.Silver.sorteos(draws).toDF(), graft.parse.Silver.premios(draws).toDF())
  }

  /** Fixed location the gold/facade queries materialize fixture silver to,
    * so their DuckDB oracles recompute the same semantics from the IDENTICAL
    * parquet bytes (the parse itself is gated by the q60/q61 golden-row
    * oracles; this layer gates the gold logic given silver).
    */
  private val silverParquetDir = "/tmp/graft_fixture_silver"

  /** Memoized per session: the parse is deterministic (and independently
    * gated by q60/q61), so the ten gold/facade queries share one silver
    * materialization instead of re-parsing and re-writing it each.
    */
  private val silverCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (DataFrame, DataFrame)]()

  private def fixtureSilverParquet(s: SparkSession): (DataFrame, DataFrame) =
    silverCache.computeIfAbsent(s, _ => {
      val (so, pr) = fixtureSilver(s)
      so.coalesce(1).write.mode("overwrite").parquet(s"$silverParquetDir/sorteos")
      pr.coalesce(1).write.mode("overwrite").parquet(s"$silverParquetDir/premios")
      (s.read.parquet(s"$silverParquetDir/sorteos"), s.read.parquet(s"$silverParquetDir/premios"))
    })

  private val parseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_parse_silver_premios" -> ((s, _) => fixtureSilver(s)._2),
    "q61_parse_silver_sorteos" -> ((s, _) => fixtureSilver(s)._1),
    "q62_gold_draw_summary" -> ((s, _) => {
      val (so, pr) = fixtureSilverParquet(s); graft.gold.Gold.drawSummary(so, pr)
    }),
    "q63_multimodal_features" ->
      ((s, dir) => graft.multimodal.Multimodal.qMultimodalFeatures(s, dir)),
    "q110_frame_sample" ->
      ((s, dir) => graft.multimodal.Multimodal.qFrameSample(s, dir)),
    "q64_facade_top_vendors" -> ((s, _) => {
      val (so, pr) = fixtureSilverParquet(s)
      new graft.analytics.LotteryAnalytics(so, pr).topVendors(10)
    }),
    "q65_facade_winning_odds" -> ((s, _) => {
      val (so, pr) = fixtureSilverParquet(s)
      new graft.analytics.LotteryAnalytics(so, pr).winningOdds()
    }))

  /** DuckDB oracles for the parser→silver→gold product path.
    *
    * q60/q61 are GOLDEN-ROW oracles: the expected silver rows were derived
    * BY HAND from the three fixture files under data/fixtures/raw by
    * applying the reference's documented semantics (parser.py regex/fold,
    * transformer.py lenient casts, N/A nulling, DE ESTA CAPITAL fix,
    * reintegros pad) — an implementation-independent check of the parse.
    * q62/q64/q65 recompute the gold/facade aggregates in DuckDB SQL over
    * the silver parquet the query materialized, independently checking the
    * aggregation semantics given silver.
    */
  private val premiosGoldenRows: String =
    """  (3046, 13956, 'P', 500000.0, 'YECENIA MAZARIEGOS', 'QUETZALTENANGO', 'QUETZALTENANGO', 2024, 3046),
      |  (3046, 42871, 'PR', 100000.0, 'TELEMARKETING', 'DE ESTA CAPITAL', 'GUATEMALA', 2024, 3046),
      |  (3046, 1102, 'DT', 1234.56, 'NO VENDIDO', NULL, NULL, 2024, 3046),
      |  (3046, 7, 'TT', 600.0, 'VENDOR_004', NULL, NULL, 2024, 3046),
      |  (3046, 109964, 'C', 600.0, 'KIOSCO CENTRAL', NULL, NULL, 2024, 3046),
      |  (3046, 13956, 'P', 500000.0, 'YECENIA MAZARIEGOS', 'QUETZALTENANGO', 'QUETZALTENANGO', 2024, 3046),
      |  (3046, 8000, 'PDT', 750.5, NULL, NULL, NULL, 2024, 3046),
      |  (3047, 77210, 'P', 1000000.0, 'MARIA LOPEZ', 'COBAN', 'ALTA VERAPAZ', 2024, 3047),
      |  (3047, 301, 'PR', 250000.0, 'NO VENDIDO', NULL, NULL, 2024, 3047),
      |  (3047, 9815, 'DT', 50000.0, 'TELEMARKETING', 'de esta capital', 'GUATEMALA', 2024, 3047),
      |  (3047, 42, 'TT', 400.0, 'NO VENDIDO', NULL, NULL, 2024, 3047),
      |  (3101, 55123, 'P', 800000.0, 'JUAN PEREZ', 'ANTIGUA', 'SACATEPEQUEZ', 2025, 3101),
      |  (3101, 8712, 'PR', 120000.0, 'VENDEDORA AMBULANTE', NULL, NULL, 2025, 3101),
      |  (3101, 660, 'DT', 2500.0, 'NO VENDIDO', NULL, NULL, 2025, 3101)""".stripMargin

  private val parseOracle: Map[String, String] = Map(
    "q63_multimodal_features" -> graft.multimodal.Multimodal.qMultimodalFeaturesSql,
    "q110_frame_sample" -> graft.multimodal.Multimodal.qFrameSampleSql,
    "q60_parse_silver_premios" ->
      s"""SELECT CAST(numero_sorteo AS BIGINT) AS numero_sorteo,
         |  CAST(numero_premiado AS BIGINT) AS numero_premiado, letras,
         |  CAST(monto AS DOUBLE) AS monto, vendedor, ciudad, departamento,
         |  CAST(year AS INTEGER) AS year, CAST(sorteo AS BIGINT) AS sorteo
         |FROM (VALUES
         |$premiosGoldenRows
         |) AS t(numero_sorteo, numero_premiado, letras, monto, vendedor,
         |       ciudad, departamento, year, sorteo)""".stripMargin,
    "q61_parse_silver_sorteos" ->
      """SELECT CAST(numero_sorteo AS BIGINT) AS numero_sorteo, tipo_sorteo,
        |  CAST(fecha_sorteo AS DATE) AS fecha_sorteo,
        |  CAST(fecha_caducidad AS DATE) AS fecha_caducidad,
        |  CAST(primer_premio AS BIGINT) AS primer_premio,
        |  CAST(segundo_premio AS BIGINT) AS segundo_premio,
        |  CAST(tercer_premio AS BIGINT) AS tercer_premio,
        |  CAST(reintegro_primer_premio AS BIGINT) AS reintegro_primer_premio,
        |  CAST(reintegro_segundo_premio AS BIGINT) AS reintegro_segundo_premio,
        |  CAST(reintegro_tercer_premio AS BIGINT) AS reintegro_tercer_premio,
        |  CAST(year AS INTEGER) AS year, CAST(sorteo AS BIGINT) AS sorteo
        |FROM (VALUES
        |  (3046, 'ORDINARIO', DATE '2024-09-15', DATE '2024-12-15', 13956, 42871, 1102, 6, 1, 2, 2024, 3046),
        |  (3047, 'EXTRAORDINARIO', DATE '2024-09-22', DATE '2024-12-22', 77210, 301, 9815, 0, 5, NULL, 2024, 3047),
        |  (3101, 'ORDINARIO', DATE '2025-01-05', DATE '2025-04-05', 55123, 8712, 660, 3, 7, 9, 2025, 3101)
        |) AS t(numero_sorteo, tipo_sorteo, fecha_sorteo, fecha_caducidad,
        |       primer_premio, segundo_premio, tercer_premio,
        |       reintegro_primer_premio, reintegro_segundo_premio,
        |       reintegro_tercer_premio, year, sorteo)""".stripMargin,
    "q62_gold_draw_summary" ->
      s"""WITH s AS (SELECT * FROM read_parquet('$silverParquetDir/sorteos/*.parquet')),
         |p AS (SELECT * FROM read_parquet('$silverParquetDir/premios/*.parquet'))
         |SELECT s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo,
         |  COUNT(p.numero_premiado) AS total_premios,
         |  COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS premios_vendidos,
         |  COUNT(p.numero_premiado) FILTER (WHERE p.vendedor =  'NO VENDIDO') AS premios_no_vendidos,
         |  ROUND(CAST(100.0 AS DOUBLE) * COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO')
         |        / NULLIF(COUNT(p.numero_premiado), 0), 2) AS pct_vendido,
         |  CAST(SUM(CAST(p.monto AS DECIMAL(18,6))) AS DOUBLE) AS total_monto,
         |  CAST(SUM(CAST(p.monto AS DECIMAL(18,6))) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS DOUBLE) AS monto_pagado,
         |  MAX(p.monto) AS top_premio
         |FROM p JOIN s USING (numero_sorteo)
         |GROUP BY s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo""".stripMargin,
    "q64_facade_top_vendors" ->
      s"""SELECT vendedor, COUNT(*) AS premios,
         |  CAST(SUM(CAST(monto AS DECIMAL(18,6))) AS DOUBLE) AS total_monto
         |FROM read_parquet('$silverParquetDir/premios/*.parquet')
         |WHERE vendedor IS NOT NULL AND vendedor <> 'NO VENDIDO'
         |GROUP BY vendedor ORDER BY premios DESC, vendedor ASC LIMIT 10""".stripMargin,
    "q65_facade_winning_odds" ->
      s"""WITH s AS (SELECT * FROM read_parquet('$silverParquetDir/sorteos/*.parquet')),
         |p AS (SELECT * FROM read_parquet('$silverParquetDir/premios/*.parquet')),
         |g AS (SELECT s.tipo_sorteo,
         |        COUNT(DISTINCT p.numero_premiado) AS numeros_premiados,
         |        COUNT(DISTINCT p.numero_sorteo) AS n_sorteos
         |      FROM p JOIN s USING (numero_sorteo)
         |      GROUP BY s.tipo_sorteo)
         |SELECT tipo_sorteo, numeros_premiados, n_sorteos,
         |  CAST(CASE WHEN tipo_sorteo = 'ORDINARIO' THEN 80000 ELSE 90000 END AS BIGINT) AS tickets,
         |  ROUND(CAST(100.0 AS DOUBLE) * numeros_premiados
         |        / (CASE WHEN tipo_sorteo = 'ORDINARIO' THEN 80000 ELSE 90000 END * n_sorteos), 2) AS pct_ganador,
         |  ROUND(CAST(CASE WHEN tipo_sorteo = 'ORDINARIO' THEN 80000 ELSE 90000 END * n_sorteos AS DOUBLE)
         |        / numeros_premiados, 0) AS odds_1_in
         |FROM g""".stripMargin)

  /** The reference's seven declarative gold CTAS SELECTs run VERBATIM as
    * Spark SQL over registered silver views ([[graft.gold.GoldSql]]) — the
    * literal query surface a reference user migrates — each gated by a
    * DuckDB dialect translation over the same silver parquet.
    */
  private val goldSqlNames: Seq[(String, String)] = Seq(
    "q66_goldsql_draw_summary" -> "gold_draw_summary",
    "q67_goldsql_number_frequency" -> "gold_winning_number_frequency",
    "q68_goldsql_terminations" -> "gold_terminations",
    "q69_goldsql_letters" -> "gold_letters_distribution",
    "q70_goldsql_geo_winnings" -> "gold_geo_winnings",
    "q71_goldsql_vendor_leaderboard" -> "gold_vendor_leaderboard",
    "q72_goldsql_time_series" -> "gold_time_series")

  private val goldSqlQueries: Map[String, (SparkSession, String) => DataFrame] =
    goldSqlNames.map { case (q, g) =>
      q -> ((s: SparkSession, _: String) => {
        val (so, pr) = fixtureSilverParquet(s)
        graft.sources.Writers.registerSilver(so, pr)
        graft.gold.GoldSql.run(s, g)
      })
    }.toMap

  private val goldSqlOracle: Map[String, String] = {
    val views =
      s"""WITH s AS (SELECT * FROM read_parquet('$silverParquetDir/sorteos/*.parquet')),
         |p AS (SELECT * FROM read_parquet('$silverParquetDir/premios/*.parquet'))""".stripMargin
    Map(
      "q66_goldsql_draw_summary" ->
        s"""$views
           |SELECT s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo,
           |  COUNT(p.numero_premiado) AS total_premios,
           |  COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS premios_vendidos,
           |  COUNT(p.numero_premiado) FILTER (WHERE p.vendedor =  'NO VENDIDO') AS premios_no_vendidos,
           |  ROUND(CAST(100.0 AS DOUBLE) * COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO')
           |        / NULLIF(COUNT(p.numero_premiado), 0), 2) AS pct_vendido,
           |  SUM(p.monto) AS total_monto,
           |  SUM(p.monto) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS monto_pagado,
           |  MAX(p.monto) AS top_premio
           |FROM s JOIN p ON p.numero_sorteo = s.numero_sorteo
           |GROUP BY s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo""".stripMargin,
      "q67_goldsql_number_frequency" ->
        s"""$views
           |SELECT p.numero_premiado, COUNT(*) AS veces_ganador,
           |  SUM(p.monto) AS total_monto, MAX(p.monto) AS max_monto
           |FROM p WHERE p.numero_premiado IS NOT NULL
           |GROUP BY p.numero_premiado""".stripMargin,
      "q68_goldsql_terminations" ->
        s"""$views
           |SELECT LPAD(CAST(p.numero_premiado % 100 AS VARCHAR), 2, '0') AS terminacion,
           |  COUNT(*) AS veces_ganador, SUM(p.monto) AS total_monto
           |FROM p WHERE p.numero_premiado IS NOT NULL
           |GROUP BY LPAD(CAST(p.numero_premiado % 100 AS VARCHAR), 2, '0')""".stripMargin,
      "q69_goldsql_letters" ->
        s"""$views
           |SELECT p.letras, COUNT(*) AS veces_ganador, SUM(p.monto) AS total_monto
           |FROM p WHERE p.letras IS NOT NULL
           |GROUP BY p.letras""".stripMargin,
      "q70_goldsql_geo_winnings" ->
        s"""$views
           |SELECT p.departamento, p.ciudad, COUNT(*) AS num_ganadores,
           |  SUM(p.monto) AS total_monto, CAST(year(s.fecha_sorteo) AS INTEGER) AS year
           |FROM p JOIN s ON p.numero_sorteo = s.numero_sorteo
           |WHERE p.vendedor <> 'NO VENDIDO' AND s.fecha_sorteo IS NOT NULL
           |GROUP BY p.departamento, p.ciudad, year(s.fecha_sorteo)""".stripMargin,
      "q71_goldsql_vendor_leaderboard" ->
        s"""$views
           |SELECT p.vendedor, COUNT(*) AS num_premios,
           |  SUM(p.monto) AS total_monto, CAST(year(s.fecha_sorteo) AS INTEGER) AS year
           |FROM p JOIN s ON p.numero_sorteo = s.numero_sorteo
           |WHERE p.vendedor IS NOT NULL AND p.vendedor <> 'NO VENDIDO'
           |  AND s.fecha_sorteo IS NOT NULL
           |GROUP BY p.vendedor, year(s.fecha_sorteo)""".stripMargin,
      "q72_goldsql_time_series" ->
        s"""$views
           |SELECT CAST(month(s.fecha_sorteo) AS INTEGER) AS month,
           |  COUNT(DISTINCT s.numero_sorteo) AS num_sorteos,
           |  COUNT(p.numero_premiado) AS num_premios,
           |  SUM(p.monto) AS total_monto,
           |  CAST(year(s.fecha_sorteo) AS INTEGER) AS year
           |FROM s JOIN p ON p.numero_sorteo = s.numero_sorteo
           |WHERE s.fecha_sorteo IS NOT NULL
           |GROUP BY year(s.fecha_sorteo), month(s.fecha_sorteo)""".stripMargin)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Analytics.queries ++ graft.streaming.Events.queries ++
      TextOps.queries ++ Similarity.queries ++ Temporal.queries ++
      Windows.queries ++ Curation.queries ++ CrossCorpus.queries ++
      Privacy.queries ++ Stats.queries ++ Retrieval.queries ++
      parseQueries ++ goldSqlQueries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Analytics.oracle ++ graft.streaming.Events.oracle ++
      TextOps.oracle ++ Similarity.oracle ++ Temporal.oracle ++
      Windows.oracle ++ Curation.oracle ++ CrossCorpus.oracle ++
      Privacy.oracle ++ Stats.oracle ++ Retrieval.oracle ++
      parseOracle ++ goldSqlOracle
}
