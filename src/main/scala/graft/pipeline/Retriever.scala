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
  val Vector, Keyword, Hybrid, Adc = Value // Adc needs a pqIndexPath

  /** The mode a request names in lower case: "vector", "keyword", "hybrid" or "adc". */
  def named(name: String): Option[Value] = values.find(_.toString.toLowerCase == name)

  /** Why a session configured without `search.pqIndexPath` refuses `Adc`. */
  private[graft] val NoPqIndex = "mode adc needs a PQ index (search.pqIndexPath), and none is configured"
}

/** @param pqIndexPath a [[graft.operators.VectorSearch.writePq]] artifact
  *   built over the chunks table (codes keyed by chunk id) — enables
  *   [[Retriever.adcSearch]] / `SearchMode.Adc`, the adjudicated
  *   0.9-recall operating point of the retrieval-regime table
  *   (SCALE.md): ADC shortlist over nSub-byte codes + exact rescore of
  *   the shortlist's float vectors. Absent = the brute/IVF/banded modes
  *   only, unchanged.
  */
final class Retriever(
    spark: SparkSession,
    pipeline: Pipeline,
    config: GraftConfig = GraftConfig.default,
    pqIndexPath: Option[String] = None) {

  private val embedder = Embedder.provider(config.embedding)

  // constructor argument wins; config.search.pqIndexPath wires the mode
  // for CLI/REST sessions built from config alone
  private val resolvedPqPath: Option[String] =
    pqIndexPath.orElse(config.search.pqIndexPath)

  // codebook loaded once (bounded sidecar, loud on a corrupt artifact);
  // the codes TABLE is read per probe — stateless, no pinned blocks to
  // leak, and the scan is nSub bytes/row behind parquet pruning
  private lazy val pqModel: Option[VectorSearch.PqModel] =
    resolvedPqPath.map(p => VectorSearch.loadPqModel(spark, p))

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

  /** ADC-shortlist vector search — the measured 0.9-recall regime
    * (VERDICT r13 #4; SCALE.md's retrieval-regime table adjudicated it
    * over banded-LSH at this corpus: ≥0.9 recall at a fraction of the
    * float bytes). Two stages: (1) asymmetric-distance top-`shortlist`
    * over the persisted PQ codes (nSub bytes/row, integer adds, no float
    * vector touched); (2) exact dot-product rescore of ONLY the
    * shortlist's chunks, returning the same row shape as
    * [[vectorSearch]]. The shortlist size is the recall knob (default
    * max(40k, 400) — the sf0.1-ladder-measured ≥0.9 operating point at
    * k=10: shortlist 400 reads 0.965/0.955 recall bare/façade, 100 reads
    * only ~0.69); `titleFilter` applies at the rescore, the standard
    * ANN-prefilter trade (a heavily-filtered query should use the exact
    * Vector mode). Crossover note (measured, SCALE.md): at sf0.1's
    * 2k-row corpus the façade's fixed per-probe overheads (codes scan +
    * semi-join) exceed the float-byte savings — the regime pays off when
    * the corpus dwarfs the shortlist, which is the 100 TB case this mode
    * exists for.
    */
  def adcSearch(
      query: String,
      k: Int,
      titleFilter: Option[String] = None,
      shortlist: Int = 0
  ): DataFrame = {
    val path = resolvedPqPath.getOrElse(throw new IllegalStateException(
      "SearchMode.Adc needs a Retriever(pqIndexPath = ...) pointing at a " +
        "VectorSearch.writePq artifact whose codes are keyed by chunk id"))
    val model = pqModel.get
    val qv = embedder.embedOne(query)
    val fetch = if (shortlist > 0) shortlist else math.max(k * 40, 400)
    val ids = VectorSearch
      .pqSearch(model, spark.read.parquet(s"$path/codes"), qv.toSeq, fetch)
      .select("id")
    val pred = titlePred(titleFilter)
      .map(_ && col("embedding").isNotNull)
      .getOrElse(col("embedding").isNotNull)
    VectorSearch
      .topK(chunks.join(ids, Seq("id"), "left_semi"), "embedding", qv, k, col("id"),
        Some(pred), scorer = graft.functions.VectorFunctions.dotProduct)
      .select(HitColumns: _*)
  }

  /** Derive the [[adcSearch]] shortlist for a recall target from THIS
    * store's own geometry (r17 verdict #5) —
    * [[VectorSearch.calibrateAdcShortlist]] over the persisted PQ codes
    * and the chunks' float vectors (two batched jobs). Run once per
    * (index, target) and pass the result as [[adcSearch]]'s `shortlist`
    * instead of trusting the fixed default's hand-measured datasheet.
    */
  def calibrateAdcShortlist(
      recallTarget: Double = 0.9,
      k: Int = 10,
      nQueries: Int = 20,
      maxShortlist: Int = 4096
  ): Int = {
    val path = resolvedPqPath.getOrElse(throw new IllegalStateException(
      "SearchMode.Adc needs a Retriever(pqIndexPath = ...) pointing at a " +
        "VectorSearch.writePq artifact whose codes are keyed by chunk id"))
    VectorSearch.calibrateAdcShortlist(
      pqModel.get, spark.read.parquet(s"$path/codes"),
      chunks.where(col("embedding").isNotNull), "id", "embedding",
      recallTarget, k, nQueries, maxShortlist)
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
    // action: `pipeline.ftsIndex` builds the resident index eagerly (its
    // reads, tokenization and pin all run there), and plan construction
    // analyzes eagerly. The action itself reads the resident index's
    // pinned postings, so an `invalidate` of that index (a document
    // delete, `flush`, a failed batch, a fold) between this call and the
    // caller's action fails the request instead of falling back.
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
      case SearchMode.Adc     => adcSearch(query, k, filter)
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
