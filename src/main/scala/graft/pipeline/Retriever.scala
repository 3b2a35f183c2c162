package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftConfig
import graft.operators.{ContextAssembly, Embedder, FtsIndex, HybridSearch, VectorSearch}

/** Query-side façade — the reference's HybridRetriever
  * (reference: src/retrieve/hybrid_retriever.py:21-206): mode dispatch
  * (vector / keyword / hybrid-RRF), title prefiltering, known-topic
  * routing, and LLM-context assembly under a token budget.
  */
object SearchMode extends Enumeration {
  val Vector, Keyword, Hybrid = Value

  /** The mode a request names in lower case: "vector", "keyword" or "hybrid". */
  def named(name: String): Option[Value] = values.find(_.toString.toLowerCase == name)
}

final class Retriever(
    spark: SparkSession,
    pipeline: Pipeline,
    config: GraftConfig = GraftConfig.default) {

  private val embedder = Embedder.provider(config.embedding)

  /** Topic keywords for title routing (reference KNOWN_TOPICS,
    * hybrid_retriever.py:32-50).
    */
  val knownTopics: Seq[String] = Seq(
    "pregnancy", "nutrition", "diabetes", "vaccination", "contraception",
    "menopause", "fertility", "labor", "cesarean", "breastfeeding",
    "depression", "exercise", "cancer", "incontinence", "hysterectomy",
    "infection", "bleeding"
  )

  /** First known topic contained in the query, if any (X5,
    * hybrid_retriever.py:92-126).
    */
  def extractTopic(query: String): Option[String] = {
    val q = query.toLowerCase
    knownTopics.find(q.contains)
  }

  private def chunks: DataFrame = pipeline.catalog.read("chunks")

  // the row shape of every search mode
  private val HitColumns = Seq("id", "document_id", "document_title", "text",
    "section_h1", "section_h2", "chunk_index", "score").map(col)

  private def titlePred(titleFilter: Option[String]): Option[Column] =
    // Column-parameterized containment — injection-proof by construction
    // (the reference must escape LIKE metacharacters by hand,
    // hybrid_retriever.py:76-81).
    titleFilter.map(t => lower(col("document_title")).contains(t.toLowerCase))

  def vectorSearch(query: String, k: Int, titleFilter: Option[String] = None): DataFrame = {
    val qv = embedder.embedOne(query)
    // F9: embedding-less chunks are excluded from vector search (the
    // reference skips them at vector-store write, lancedb_store.py:78-83;
    // with a single chunks table the filter moves to the read side)
    val pred = titlePred(titleFilter)
      .map(_ && col("embedding").isNotNull)
      .getOrElse(col("embedding").isNotNull)
    // HashingEmbedder emits unit vectors: score with the dot product
    // (== cosine at a third of the per-row flops on the scan hot path)
    VectorSearch
      .topK(chunks, "embedding", qv, k, col("id"), Some(pred),
        scorer = graft.functions.VectorFunctions.dotProduct)
      .select(HitColumns: _*)
  }

  def keywordSearch(query: String, k: Int, titleFilter: Option[String] = None): DataFrame = {
    val idx = pipeline.ftsIndex
    // With a title filter the PREDICATE must see every scored candidate
    // (the reference's LanceDB FTS prefilters before its limit): a k*4
    // overfetch truncated on unfiltered score could rank all
    // title-matching chunks below the cut and return fewer than k — or
    // zero — matching rows. Without a filter the bounded overfetch is the
    // cheaper plan.
    val scored = (titleFilter match {
      case Some(_) =>
        FtsIndex.scoreAll(spark, idx, query, config.search.bm25K1, config.search.bm25B)
      case None =>
        FtsIndex.search(spark, idx, query, math.max(k * 4, k),
          config.search.bm25K1, config.search.bm25B)
    }).withColumnRenamed("doc_id", "id")
    val joined = chunks.join(scored, "id")
    val filtered = titlePred(titleFilter).map(joined.where).getOrElse(joined)
    filtered
      .orderBy(desc("score"), col("id"))
      .limit(k)
      .select(HitColumns: _*)
  }

  /** Hybrid = RRF fusion of vector + keyword rankings (Q3/W4), with
    * vector fallback on keyword failure (lancedb_store.py:187-190), as
    * one bounded plan: both legs and the fused list are top-k
    * (`TakeOrderedAndProject`), so the caller's action runs no sort
    * exchange. Both legs carry their chunk rows, so the fused list needs
    * no further read of the chunks table.
    */
  def hybridSearch(query: String, k: Int, titleFilter: Option[String] = None): DataFrame = {
    val v = vectorSearch(query, k, titleFilter)
    // The fallback covers what the keyword leg does before the caller's
    // action: `pipeline.ftsIndex` brings the resident index up to date
    // eagerly (its reads, tokenization and pin all run there), and plan
    // construction analyzes eagerly. The action itself reads the resident
    // index's pinned postings, so a refresh that replaces the entry (a
    // rebuild after chunks files were removed or rewritten, a fold) or a
    // `flush` between this call and the caller's action fails the
    // request instead of falling back.
    val kw =
      try keywordSearch(query, k, titleFilter)
      catch {
        // NonFatal only: an OOM/fatal JVM error must propagate, not
        // masquerade as a silent mode switch; log the branch failure so
        // genuine FTS bugs stay visible.
        case scala.util.control.NonFatal(e) =>
          graft.util.JsonLog.warn("hybrid_keyword_fallback",
            "error" -> e.toString, "mode" -> "vector_only")
          return vectorSearch(query, k, titleFilter)
      }
    // rrf returns its fused list in rank order, already cut to k
    HybridSearch.rrf(v, kw, "id", "score", k, config.search.rrfK)
      .withColumnRenamed("rrf_score", "score")
      .select(HitColumns: _*)
  }

  /** Mode dispatch + topic routing (Q4/Q5,
    * hybrid_retriever.py:57-90,148-151). Empty result (not a path error)
    * on a fresh warehouse.
    */
  def search(
      query: String,
      mode: SearchMode.Value = SearchMode.Hybrid,
      k: Int = 10,
      titleFilter: Option[String] = None,
      routeByTopic: Boolean = false
  ): DataFrame = {
    val filter = titleFilter.orElse(if (routeByTopic) extractTopic(query) else None)
    if (!pipeline.catalog.exists("chunks")) {
      import spark.implicits._
      spark.emptyDataset[graft.model.Chunk].withColumn("score", lit(0.0)).select(HitColumns: _*)
    } else mode match {
      case SearchMode.Vector  => vectorSearch(query, k, filter)
      case SearchMode.Keyword => keywordSearch(query, k, filter)
      case SearchMode.Hybrid  => hybridSearch(query, k, filter)
    }
  }

  /** LLM-context assembly (Q6, hybrid_retriever.py:167-206): over-fetch,
    * select the longest prefix within the token budget, format with
    * source attribution. One action: every search mode ends in a top-k,
    * so the budget windows and the order run over its single partition.
    */
  def getContext(
      query: String,
      maxTokens: Int = 4000,
      mode: SearchMode.Value = SearchMode.Hybrid
  ): String =
    ContextAssembly.formatContext(contextHits(query, maxTokens, mode).collect(), "document_title", "text")

  /** The hits [[getContext]] formats, in context order. */
  private[graft] def contextHits(query: String, maxTokens: Int, mode: SearchMode.Value): DataFrame =
    ContextAssembly
      .selectWithinBudget(search(query, mode, config.search.contextOverfetchK), "score", "id", maxTokens.toDouble)
      .orderBy(desc("score"), col("id"))
}
