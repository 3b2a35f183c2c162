package graft

import org.scalatest.funsuite.AnyFunSuite

/** The views derived from `SparkEntry.registry` stay the driver contract:
  * the rows-only set, the bench headline and steady sequences, and the
  * oracle map under both its names.
  */
class QuerySetSpec extends AnyFunSuite {

  test("the queries without a DuckDB oracle are exactly the five rows-only ones") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q_ann_ivf", "q_ann_lsh", "q_chunker", "q_embed_chunks", "q_mmr"))
  }

  test("Bench.Headline holds 20 distinct declared queries") {
    assert(Bench.Headline == Seq(
      "q_pricing_summary", "q_filter_range", "q_join_revenue_by_region",
      "q_anti_join", "q_window_topn_per_cust", "q_running_total",
      "q_topk_orders", "q_sessionize", "q_event_tumbling", "q_json_extract",
      "q_quality_metrics", "q_token_estimate", "q_dedup_exact", "q_minhash_lsh",
      "q_ngram_jaccard", "q_ann_cosine", "q_bm25", "q_rrf_hybrid",
      "q_context_budget", "q_chunker"))
  }

  test("Bench's steady list is the four index-warm queries") {
    assert(Bench.Steady == Seq("q_bm25", "q_ann_ivf", "q_rrf_hybrid", "q_context_budget"))
  }

  test("OracleSql.all is SparkEntry.oracleSql") {
    assert(OracleSql.all == SparkEntry.oracleSql)
    assert(SparkEntry.oracleSql.size == 176 && SparkEntry.queries.size == 181)
  }
}
