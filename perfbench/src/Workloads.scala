package perfbench

import graft.Tables.Q
import graft.functions.{ScalarQueries, UdfQueries}
import graft.operators._
import graft.streaming.StreamingQueries

/** The program's query modules the workloads call (named as in the
  * categories of `graft.SparkEntry`), and the fixed job mix of each
  * workload: every job runs once per pass.
  */
object Workloads {
  private val modules: Map[String, Map[String, Q]] = Map(
    "FilterQueries" -> FilterQueries.queries,
    "AggQueries" -> AggQueries.queries,
    "JoinQueries" -> JoinQueries.queries,
    "WindowQueries" -> WindowQueries.queries,
    "SetQueries" -> SetQueries.queries,
    "ScalarQueries" -> ScalarQueries.queries,
    "UdfQueries" -> UdfQueries.queries,
    "LlmQueries" -> LlmQueries.queries,
    "TextQueries" -> TextQueries.queries,
    "SimilarityQueries" -> SimilarityQueries.queries,
    "MultimodalQueries" -> MultimodalQueries.queries,
    "PipelineQueries" -> PipelineQueries.queries,
    "SqlQueries" -> SqlQueries.queries,
    "TimeSeriesQueries" -> TimeSeriesQueries.queries,
    "StreamingQueries" -> StreamingQueries.queries)

  val mixes: Map[String, Seq[(String, String)]] = Map(
    // star-schema reads: grouped aggregation, broadcast, shuffle, skew
    // and as-of joins, windows, top-k, set ops, subqueries, time series
    "football_batch" -> Seq(
      "SqlQueries" -> "sql_exists_subquery",
      "FilterQueries" -> "project_cast",
      "WindowQueries" -> "win_row_number",
      "WindowQueries" -> "sort_limit_topk",
      "WindowQueries" -> "topk_per_group",
      "AggQueries" -> "agg_group_sums",
      "AggQueries" -> "agg_having",
      "SetQueries" -> "dedup_distinct",
      "TimeSeriesQueries" -> "ts_resample_ohlc",
      "JoinQueries" -> "join_asof",
      "JoinQueries" -> "join_inner_broadcast",
      "JoinQueries" -> "join_inner_shuffle",
      "JoinQueries" -> "join_skew_salted"),
    // LLM-data curation operators over documents / embeddings, a
    // RocksDB-backed stateful streaming replay, plus one snapshot-table
    // ingest round per pass
    "curation" -> Seq(
      "SimilarityQueries" -> "ann_pq_topk",
      "SimilarityQueries" -> "sim_search_topk",
      "PipelineQueries" -> "sample_hash",
      "LlmQueries" -> "text_lang_filter",
      "ScalarQueries" -> "fn_string_regex",
      "UdfQueries" -> "udtf_posexplode",
      "MultimodalQueries" -> "mm_wav_meta",
      "TextQueries" -> "text_quality_score",
      "TextQueries" -> "text_heavy_hitters",
      "StreamingQueries" -> "stream_tws_running_sum"))

  /** Workloads that append event batches to a snapshot table. */
  val ingesting: Set[String] = Set("curation")

  def query(module: String, name: String): Q =
    modules.getOrElse(module, sys.error(s"unknown module $module"))
      .getOrElse(name, sys.error(s"$module has no query $name"))
}
