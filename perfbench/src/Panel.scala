package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** The analyst panel: a fixed list of oracle-gated operator queries, chosen
  * by one rule — every operator module is covered, and the companion rows
  * the roadmap tracks (q116, q49, q56, q08, q92, q147) are included. Where a
  * module has no companion row, one mid-cost query of its own stands in.
  */
object Panel {

  final case class Query(name: String, module: String,
      build: (SparkSession, String) => DataFrame)

  private def from(module: String, queries: Map[String, (SparkSession, String) => DataFrame],
      names: String*): Seq[Query] =
    names.map(n => Query(n, module, queries(n)))

  val queries: Seq[Query] =
    from("relational", Relational.queries, "q08_time_series") ++
      from("analytics_ops", Analytics.queries, "q92_grouping_sets") ++
      from("stats", Stats.queries, "q170_benford") ++
      from("temporal", Temporal.queries, "q57_range_join") ++
      from("textops", TextOps.queries, "q49_jaccard_top_pairs", "q56_minhash_candidates") ++
      from("similarity", Similarity.queries, "q53_ann_lsh") ++
      from("curation", Curation.queries, "q116_fuzzy_pairs") ++
      from("retrieval", Retrieval.queries, "q147_token_pagerank") ++
      from("windows", Windows.queries, "q77_window_running") ++
      from("crosscorpus", CrossCorpus.queries, "q117_cross_corpus_dedup") ++
      from("privacy", Privacy.queries, "q120_pii_redact") ++
      from("events", graft.streaming.Events.queries, "q33_sessionize")

  val modules: Seq[String] = queries.map(_.module).distinct

  /** Facade methods timed over the generated silver, each with a check. */
  val facade: Seq[(String, graft.analytics.LotteryAnalytics => DataFrame)] = Seq(
    "facade_top_winning_numbers" -> (_.topWinningNumbers(10)),
    "facade_top_vendors" -> (_.topVendors(10)),
    "facade_winning_odds" -> (_.winningOdds()))

  val goldTables: Seq[String] = Seq("gold_draw_summary", "gold_winning_number_frequency",
    "gold_terminations", "gold_letters_distribution", "gold_geo_winnings",
    "gold_vendor_leaderboard", "gold_time_series")
}
