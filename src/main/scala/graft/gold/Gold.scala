package graft.gold

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational.dsum

/** The reference's seven Gold tables as DataFrame builders over the silver
  * schema — the literal query surface a user of the reference runs today
  * (reference sql/gold/01..07_*.sql), in both forms SURVEY §7.1-5 calls for:
  * typed builders here, and the translated CTAS SQL text in [[GoldSql]]
  * (runnable via spark.sql over registered temp views).
  *
  * Semantics ported exactly:
  *  - `vendedor <> 'NO VENDIDO'` is null-rejecting (01:38-39) — NULL
  *    vendedor rows fall out of the FILTERed aggregates, and 06 excludes
  *    null and sentinel separately (06:35-36); the two states stay distinct.
  *  - `COUNT(p.numero_premiado)` (null-skipping) vs `COUNT(*)` is preserved
  *    per query exactly as written (01:37 vs 02:24).
  *  - sorteos is one row per draw — genuinely small relative to premios —
  *    so every join broadcasts the sorteos side.
  */
object Gold {

  private def pct(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
    round(lit(100.0) * num / nullif(den, lit(0)), 2)

  /** 01_gold_draw_summary.sql:33-50. */
  def drawSummary(sorteos: DataFrame, premios: DataFrame): DataFrame = {
    val vendido = col("vendedor") =!= "NO VENDIDO"
    val noVendido = col("vendedor") === "NO VENDIDO"
    premios.join(broadcast(sorteos), Seq("numero_sorteo"))
      .groupBy(col("numero_sorteo"), col("tipo_sorteo"), col("fecha_sorteo"))
      .agg(
        count(col("numero_premiado")).as("total_premios"),
        count(when(vendido, col("numero_premiado"))).as("premios_vendidos"),
        count(when(noVendido, col("numero_premiado"))).as("premios_no_vendidos"),
        pct(count(when(vendido, col("numero_premiado"))), count(col("numero_premiado")))
          .as("pct_vendido"),
        dsum(col("monto")).as("total_monto"),
        dsum(when(vendido, col("monto"))).as("monto_pagado"),
        max(col("monto")).as("top_premio"))
  }

  /** 02_gold_winning_number_frequency.sql:22-29. */
  def winningNumberFrequency(premios: DataFrame): DataFrame =
    premios.where(col("numero_premiado").isNotNull)
      .groupBy(col("numero_premiado"))
      .agg(
        count(lit(1)).as("veces_ganador"),
        dsum(col("monto")).as("total_monto"),
        max(col("monto")).as("max_monto"))

  /** 03_gold_terminations.sql:27-33 — `% 100` is length-robust (the real
    * numero_premiado spans 1-6 digits, 03:14-17).
    */
  def terminations(premios: DataFrame): DataFrame =
    premios.where(col("numero_premiado").isNotNull)
      .groupBy(lpad((col("numero_premiado") % 100).cast("string"), 2, "0").as("terminacion"))
      .agg(
        count(lit(1)).as("veces_ganador"),
        dsum(col("monto")).as("total_monto"))

  /** 04_gold_letters_distribution.sql:22-28. */
  def lettersDistribution(premios: DataFrame): DataFrame =
    premios.where(col("letras").isNotNull)
      .groupBy(col("letras"))
      .agg(
        count(lit(1)).as("veces_ganador"),
        dsum(col("monto")).as("total_monto"))

  /** 05_gold_geo_winnings.sql:26-37 (partitioned by year downstream). */
  def geoWinnings(sorteos: DataFrame, premios: DataFrame): DataFrame =
    premios.join(broadcast(sorteos), Seq("numero_sorteo"))
      .where(col("vendedor") =!= "NO VENDIDO" && col("fecha_sorteo").isNotNull)
      .groupBy(col("departamento"), col("ciudad"), year(col("fecha_sorteo")).as("year"))
      .agg(
        count(lit(1)).as("num_ganadores"),
        dsum(col("monto")).as("total_monto"))
      // partition column last (Athena CTAS rule, 05:14-16)
      .select(col("departamento"), col("ciudad"), col("num_ganadores"),
        col("total_monto"), col("year"))

  /** 06_gold_vendor_leaderboard.sql:27-38. */
  def vendorLeaderboard(sorteos: DataFrame, premios: DataFrame): DataFrame =
    premios.join(broadcast(sorteos), Seq("numero_sorteo"))
      .where(col("vendedor").isNotNull && col("vendedor") =!= "NO VENDIDO" &&
        col("fecha_sorteo").isNotNull)
      .groupBy(col("vendedor"), year(col("fecha_sorteo")).as("year"))
      .agg(
        count(lit(1)).as("num_premios"),
        dsum(col("monto")).as("total_monto"))
      .select(col("vendedor"), col("num_premios"), col("total_monto"), col("year"))

  /** 07_gold_time_series.sql:27-37. */
  def timeSeries(sorteos: DataFrame, premios: DataFrame): DataFrame =
    premios.join(broadcast(sorteos), Seq("numero_sorteo"))
      .where(col("fecha_sorteo").isNotNull)
      .groupBy(year(col("fecha_sorteo")).as("year"), month(col("fecha_sorteo")).as("month"))
      .agg(
        countDistinct(col("numero_sorteo")).as("num_sorteos"),
        count(col("numero_premiado")).as("num_premios"),
        dsum(col("monto")).as("total_monto"))
      .select(col("month"), col("num_sorteos"), col("num_premios"),
        col("total_monto"), col("year"))

  /** All builders keyed by gold table name, each (sorteos, premios) → df. */
  val builders: Map[String, (DataFrame, DataFrame) => DataFrame] = Map(
    "gold_draw_summary" -> ((s, p) => drawSummary(s, p)),
    "gold_winning_number_frequency" -> ((_, p) => winningNumberFrequency(p)),
    "gold_terminations" -> ((_, p) => terminations(p)),
    "gold_letters_distribution" -> ((_, p) => lettersDistribution(p)),
    "gold_geo_winnings" -> ((s, p) => geoWinnings(s, p)),
    "gold_vendor_leaderboard" -> ((s, p) => vendorLeaderboard(s, p)),
    "gold_time_series" -> ((s, p) => timeSeries(s, p)))
}

/** The same seven queries as Spark SQL text (the reference's declarative
  * CTAS SELECTs after mechanical dialect translation — SURVEY §3.2: FILTER
  * clause is native Spark SQL, VARCHAR → STRING). Registered temp views
  * `sorteos` / `premios` are the silver inputs (S11); the CTAS wrapper
  * (S13/S14) is `df.write.mode("overwrite")` in [[graft.sources.Writers]].
  */
object GoldSql {
  val sql: Map[String, String] = Map(
    "gold_draw_summary" ->
      """SELECT
        |  s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo,
        |  COUNT(p.numero_premiado) AS total_premios,
        |  COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS premios_vendidos,
        |  COUNT(p.numero_premiado) FILTER (WHERE p.vendedor =  'NO VENDIDO') AS premios_no_vendidos,
        |  ROUND(CAST(100.0 AS DOUBLE) * COUNT(p.numero_premiado) FILTER (WHERE p.vendedor <> 'NO VENDIDO')
        |        / NULLIF(COUNT(p.numero_premiado), 0), 2) AS pct_vendido,
        |  SUM(p.monto) AS total_monto,
        |  SUM(p.monto) FILTER (WHERE p.vendedor <> 'NO VENDIDO') AS monto_pagado,
        |  MAX(p.monto) AS top_premio
        |FROM sorteos s JOIN premios p ON p.numero_sorteo = s.numero_sorteo
        |GROUP BY s.numero_sorteo, s.tipo_sorteo, s.fecha_sorteo""".stripMargin,
    "gold_winning_number_frequency" ->
      """SELECT p.numero_premiado, COUNT(*) AS veces_ganador,
        |  SUM(p.monto) AS total_monto, MAX(p.monto) AS max_monto
        |FROM premios p WHERE p.numero_premiado IS NOT NULL
        |GROUP BY p.numero_premiado""".stripMargin,
    "gold_terminations" ->
      """SELECT LPAD(CAST(p.numero_premiado % 100 AS STRING), 2, '0') AS terminacion,
        |  COUNT(*) AS veces_ganador, SUM(p.monto) AS total_monto
        |FROM premios p WHERE p.numero_premiado IS NOT NULL
        |GROUP BY LPAD(CAST(p.numero_premiado % 100 AS STRING), 2, '0')""".stripMargin,
    "gold_letters_distribution" ->
      """SELECT p.letras, COUNT(*) AS veces_ganador, SUM(p.monto) AS total_monto
        |FROM premios p WHERE p.letras IS NOT NULL
        |GROUP BY p.letras""".stripMargin,
    "gold_geo_winnings" ->
      """SELECT p.departamento, p.ciudad, COUNT(*) AS num_ganadores,
        |  SUM(p.monto) AS total_monto, YEAR(s.fecha_sorteo) AS year
        |FROM premios p JOIN sorteos s ON p.numero_sorteo = s.numero_sorteo
        |WHERE p.vendedor <> 'NO VENDIDO' AND s.fecha_sorteo IS NOT NULL
        |GROUP BY p.departamento, p.ciudad, YEAR(s.fecha_sorteo)""".stripMargin,
    "gold_vendor_leaderboard" ->
      """SELECT p.vendedor, COUNT(*) AS num_premios,
        |  SUM(p.monto) AS total_monto, YEAR(s.fecha_sorteo) AS year
        |FROM premios p JOIN sorteos s ON p.numero_sorteo = s.numero_sorteo
        |WHERE p.vendedor IS NOT NULL AND p.vendedor <> 'NO VENDIDO'
        |  AND s.fecha_sorteo IS NOT NULL
        |GROUP BY p.vendedor, YEAR(s.fecha_sorteo)""".stripMargin,
    "gold_time_series" ->
      """SELECT MONTH(s.fecha_sorteo) AS month,
        |  COUNT(DISTINCT s.numero_sorteo) AS num_sorteos,
        |  COUNT(p.numero_premiado) AS num_premios,
        |  SUM(p.monto) AS total_monto,
        |  YEAR(s.fecha_sorteo) AS year
        |FROM sorteos s JOIN premios p ON p.numero_sorteo = s.numero_sorteo
        |WHERE s.fecha_sorteo IS NOT NULL
        |GROUP BY YEAR(s.fecha_sorteo), MONTH(s.fecha_sorteo)""".stripMargin)

  /** Run a gold query in its declarative SQL form against registered views. */
  def run(spark: SparkSession, name: String): DataFrame = spark.sql(sql(name))
}
