package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TokenTermCounts

/** Compliance pass of a training-data pipeline: PII detection/redaction
  * and rule-based quality screening (the C4/Gopher-style filters a corpus
  * runs before packing).
  *
  * Both operators are strictly row-local — regexp/HOF work per document,
  * then one bounded-domain `groupBy(source)` — so the plan is a narrow
  * scan + tiny hash aggregate: the shape that scales linearly to 100 TB
  * with zero shuffle pressure (the aggregate moves |sources| rows per
  * partition after map-side combine).
  *
  * The synthetic documents corpus contains no organic PII, so q120 stamps
  * deterministic synthetic PII (email / phone / IPv4 derived from doc_id)
  * into a subset of rows FIRST, identically on the Spark and oracle
  * sides — the detector/redactor mechanics are what's under test, and the
  * patterns stick to character classes + `\b` that Java regex and
  * DuckDB's RE2 match identically.
  */
object Privacy {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{3}-[0-9]{4}\\b"
  val Ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** doc_id-derived PII stamping, shared by the Spark query and (in its
    * DuckDB spelling) the oracle: every 7th doc gains an email, every
    * 11th a phone, every 13th an IPv4.
    */
  private val augmentedText: Column = concat(
    col("text"),
    when(col("doc_id") % 7 === 0,
      concat(lit(" contact user"), col("doc_id"), lit("@mail"),
        col("doc_id") % 5, lit(".example.com"))).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
    when(col("doc_id") % 13 === 0,
      concat(lit(" host 10."), (col("doc_id") % 256).cast("string"), lit("."),
        expr("(doc_id DIV 7) % 256"), lit("."),
        expr("(doc_id DIV 11) % 256"))).otherwise(lit("")))

  /** Count of full matches of `re` in `c`. Column-based
    * regexp_extract_all: the pattern reaches the regex engine verbatim
    * (an expr() spelling would run the SQL lexer's escape processing,
    * turning '\b' into a backspace character).
    */
  def piiHits(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0)))

  /** The redaction chain. Emails are redacted before IPv4 so a dotted
    * mail host can never be half-claimed by the IP pattern; PrivacySpec
    * re-scans the OUTPUT of this function to prove no raw PII form (and
    * no placeholder-induced re-match) survives.
    */
  def redactText(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** q120: PII scan + redaction accounting per source. Counts come from
    * full-match extraction on the pre-redaction text; `distinct_redacted`
    * fingerprints the redacted corpus (md5) so the oracle confirms the
    * REPLACEMENT bytes, not just the match counts.
    */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame =
    // widenScan (r20, guide §2.5): six row-local regex passes ran fused
    // into the 1-split documents scan; spreading the texts first reads
    // 0.52 vs 0.55–0.62 s same-window (OPTIMIZATION_r20.md,
    // exceptAll = 0). No-op at real scan parallelism.
    piiRedactOf(Tables.widenScan(t(s, dir, "documents"), col("doc_id")))

  /** Builder core of q120 over any documents frame (r20: split out so the
    * widenScan A/B can feed it a repartitioned input).
    */
  private[graft] def piiRedactOf(docs: DataFrame): DataFrame = {
    val scanned = docs
      .withColumn("atext", augmentedText)
      .withColumn("n_emails", piiHits(col("atext"), EmailRe))
      .withColumn("n_phones", piiHits(col("atext"), PhoneRe))
      .withColumn("n_ips", piiHits(col("atext"), Ipv4Re))
      .withColumn("redacted", redactText(col("atext")))
    scanned.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_emails")).as("n_emails"),
      sum(col("n_phones")).as("n_phones"),
      sum(col("n_ips")).as("n_ips"),
      sum(when(col("n_emails") + col("n_phones") + col("n_ips") > 0, 1L)
        .otherwise(0L)).as("docs_with_pii"),
      countDistinct(md5(col("redacted"))).as("distinct_redacted"))
  }

  val qPiiRedactSql: String = {
    // One physical line per concat term: the interpolated snippet passes
    // through the OUTER string's .stripMargin too, which would eat a pipe
    // from any line-leading '||'.
    val atext =
      "text || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@mail' || (doc_id % 5) || '.example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END || " +
        "CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id // 7) % 256) || '.' || ((doc_id // 11) % 256) ELSE '' END"
    s"""WITH a AS (
       |  SELECT source, $atext AS atext FROM documents),
       |d AS (
       |  SELECT source,
       |    len(regexp_extract_all(atext, '$EmailRe', 0)) AS n_emails,
       |    len(regexp_extract_all(atext, '$PhoneRe', 0)) AS n_phones,
       |    len(regexp_extract_all(atext, '$Ipv4Re', 0)) AS n_ips,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(atext, '$EmailRe', '<EMAIL>', 'g'),
       |        '$PhoneRe', '<PHONE>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g') AS redacted
       |  FROM a)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       |  CAST(SUM(n_phones) AS BIGINT) AS n_phones,
       |  CAST(SUM(n_ips) AS BIGINT) AS n_ips,
       |  CAST(SUM(CASE WHEN n_emails + n_phones + n_ips > 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS docs_with_pii,
       |  COUNT(DISTINCT md5(redacted)) AS distinct_redacted
       |FROM d GROUP BY source""".stripMargin
  }

  /** q121: rule-based quality screen (C4/Gopher shape) with per-source
    * pass accounting. Every rule is integer-exact (cross-multiplied
    * thresholds — `2*sumlen <= 9*n` instead of `mean <= 4.5`) so no float
    * enters the comparison until the final ROUND'd keep percentage:
    *
    *  - r_len:  20 <= word count <= 60
    *  - r_mwl:  mean word length in [3, 4.5]
    *  - r_stop: stopword ('the'/'a') fraction >= 0.1
    *  - r_ttr:  type-token ratio >= 0.5 (distinct/total — repetition screen)
    */
  def qQualityRules(s: SparkSession, dir: String): DataFrame = {
    // sumlen is pure arithmetic — split on ' ' is lossless, so
    // Σ length(token) = length(text) − (n_words − 1) separators; the
    // stopword count comes from the fused single-pass TokenTermCounts
    // ('the'/'a' are non-empty, so whole-token-run counts equal the
    // filter-over-split-with-empties spelling); toksq serves only
    // n_distinct.
    val m = t(s, dir, "documents")
      .withColumn("toksq", split(col("text"), " "))
      .withColumn("n_words", size(col("toksq")).cast("long"))
      .withColumn("ttc", TokenTermCounts.column(col("text"), Seq("the", "a")))
      .withColumn("sumlen",
        (length(col("text")).cast("long") - col("n_words") + lit(1L)))
      .withColumn("n_stop", col("ttc").getItem(1) + col("ttc").getItem(2))
      .withColumn("n_distinct", size(array_distinct(col("toksq"))).cast("long"))
      .withColumn("r_len", col("n_words") >= 20 && col("n_words") <= 60)
      .withColumn("r_mwl",
        col("sumlen") >= lit(3) * col("n_words") &&
          lit(2) * col("sumlen") <= lit(9) * col("n_words"))
      .withColumn("r_stop", lit(10) * col("n_stop") >= col("n_words"))
      .withColumn("r_ttr", lit(2) * col("n_distinct") >= col("n_words"))
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"p_${c.drop(2)}")
    m.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        cnt("r_len"), cnt("r_mwl"), cnt("r_stop"), cnt("r_ttr"),
        sum(when(col("r_len") && col("r_mwl") && col("r_stop") && col("r_ttr"),
          1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_pct",
        round(lit(100.0) * col("n_keep") / col("n_docs"), 2))
  }

  val qQualityRulesSql: String =
    """WITH m AS (
      |  SELECT source,
      |    len(toks) AS n_words,
      |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS sumlen,
      |    len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop,
      |    len(list_distinct(toks)) AS n_distinct
      |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)),
      |r AS (
      |  SELECT source,
      |    (n_words BETWEEN 20 AND 60) AS r_len,
      |    (sumlen >= 3 * n_words AND 2 * sumlen <= 9 * n_words) AS r_mwl,
      |    (10 * n_stop >= n_words) AS r_stop,
      |    (2 * n_distinct >= n_words) AS r_ttr
      |  FROM m)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN r_len THEN 1 ELSE 0 END) AS BIGINT) AS p_len,
      |  CAST(SUM(CASE WHEN r_mwl THEN 1 ELSE 0 END) AS BIGINT) AS p_mwl,
      |  CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS p_stop,
      |  CAST(SUM(CASE WHEN r_ttr THEN 1 ELSE 0 END) AS BIGINT) AS p_ttr,
      |  CAST(SUM(CASE WHEN r_len AND r_mwl AND r_stop AND r_ttr THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_keep,
      |  ROUND(CAST(100.0 AS DOUBLE) * SUM(CASE WHEN r_len AND r_mwl AND r_stop
      |        AND r_ttr THEN 1 ELSE 0 END) / COUNT(*), 2) AS keep_pct
      |FROM r GROUP BY source""".stripMargin

  /** q162: Cohen's kappa between two quality filters — rater A is the
    * surface filter (q121's length + stopword rules), rater B the shape
    * filter (mean-word-length + type-token-ratio rules). Kappa is the
    * agreement-beyond-chance audit a curation pipeline runs before
    * swapping one filter for a cheaper one: raw agreement po flatters
    * filters that both say "keep" to almost everything; kappa subtracts
    * the chance agreement pe implied by the marginals.
    *
    * Exactness: the 2×2 table and both marginals are exact BIGINT from
    * one corpus pass (the same integer cross-multiplied rules as q121 —
    * no float enters a comparison); po, pe, and kappa are three IEEE
    * divisions on exactly-representable integers (products < 2^53),
    * spelled identically in both engines.
    *
    * Scale shape: row-local rule evaluation, one map-side-combined
    * global aggregate, scalar output.
    */
  def qFilterKappa(s: SparkSession, dir: String): DataFrame = {
    // same fused/arithmetic spelling as qQualityRules (see there)
    val m = t(s, dir, "documents")
      .withColumn("toksq", split(col("text"), " "))
      .withColumn("n_words", size(col("toksq")).cast("long"))
      .withColumn("ttc", TokenTermCounts.column(col("text"), Seq("the", "a")))
      .withColumn("sumlen",
        (length(col("text")).cast("long") - col("n_words") + lit(1L)))
      .withColumn("n_stop", col("ttc").getItem(1) + col("ttc").getItem(2))
      .withColumn("n_distinct", size(array_distinct(col("toksq"))).cast("long"))
      .withColumn("a", col("n_words") >= 20 && col("n_words") <= 60 &&
        lit(10) * col("n_stop") >= col("n_words"))
      .withColumn("b", col("sumlen") >= lit(3) * col("n_words") &&
        lit(2) * col("sumlen") <= lit(9) * col("n_words") &&
        lit(2) * col("n_distinct") >= col("n_words"))
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    m.agg(
        count(lit(1)).as("n"),
        cnt(col("a") && col("b")).as("n11"),
        cnt(col("a") && !col("b")).as("n10"),
        cnt(!col("a") && col("b")).as("n01"),
        cnt(!col("a") && !col("b")).as("n00"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        round((col("n11") + col("n00")).cast("double") / col("n"), 6).as("po"),
        round(((col("n11") + col("n10")) * (col("n11") + col("n01"))
            + (col("n01") + col("n00")) * (col("n10") + col("n00")))
          .cast("double") / (col("n") * col("n")), 6).as("pe"))
      .withColumn("kappa", round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
  }

  val qFilterKappaSql: String =
    """WITH m AS (
      |  SELECT len(toks) AS n_words,
      |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS sumlen,
      |    len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop,
      |    len(list_distinct(toks)) AS n_distinct
      |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)),
      |r AS (
      |  SELECT
      |    (n_words BETWEEN 20 AND 60 AND 10 * n_stop >= n_words) AS a,
      |    (sumlen >= 3 * n_words AND 2 * sumlen <= 9 * n_words
      |      AND 2 * n_distinct >= n_words) AS b
      |  FROM m),
      |c AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      |  FROM r),
      |p AS (
      |  SELECT n, n11, n10, n01, n00,
      |    ROUND(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
      |    ROUND(CAST((n11 + n10) * (n11 + n01)
      |        + (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n), 6) AS pe
      |  FROM c)
      |SELECT n, n11, n10, n01, n00, po, pe,
      |  ROUND((po - pe) / (1.0 - pe), 6) AS kappa
      |FROM p""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q120_pii_redact" -> (qPiiRedact _),
    "q121_quality_rules" -> (qQualityRules _),
    "q162_filter_kappa" -> (qFilterKappa _))

  val oracle: Map[String, String] = Map(
    "q120_pii_redact" -> qPiiRedactSql,
    "q121_quality_rules" -> qQualityRulesSql,
    "q162_filter_kappa" -> qFilterKappaSql)
}
