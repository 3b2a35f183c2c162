package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Chunker, Embedder, FtsIndex}
import graft.pipeline.{Pipeline, Retriever, SearchMode}
import graft.sources.PdfSource

/** Top-level functional API, mirroring the reference package's exported
  * convenience functions (reference: src/__init__.py:68-232 —
  * `extract_pdf`, `chunk_text`, `embed_chunks`, `process_pdf`,
  * `search_documents`) as thin delegations over the engine operators.
  */
object api {

  /** Extract text + page count from PDFs under `dir` (U1 surface). */
  def extractPdf(spark: SparkSession, dir: String,
      config: GraftConfig = GraftConfig.default): DataFrame =
    PdfSource.withExtraction(PdfSource.scan(spark, dir), config.extraction)

  /** Chunk one text (pure function; U4+U5 surface). */
  def chunkText(text: String,
      config: ChunkingConfig = ChunkingConfig()): Seq[Chunker.TextChunk] =
    Chunker.chunk(text, config)

  /** Attach embeddings to any DataFrame with a text column (U6 surface). */
  def embedChunks(df: DataFrame, textCol: String = "text",
      config: GraftConfig = GraftConfig.default): DataFrame =
    Embedder.withEmbedding(df, textCol, "embedding", config.embedding)

  /** Full single-directory ingest (the `process_pdf` composite). */
  def processPdfs(spark: SparkSession, pdfDir: String,
      config: GraftConfig = GraftConfig.default,
      markdownDir: Option[String] = None,
      imagesDir: Option[String] = None): Long =
    new Pipeline(spark, config).processDirectory(pdfDir, markdownDir, imagesDir)

  /** Search the ingested corpus (the `search_documents` composite). */
  def searchDocuments(spark: SparkSession, query: String,
      mode: SearchMode.Value = SearchMode.Hybrid, k: Int = 10,
      config: GraftConfig = GraftConfig.default): DataFrame = {
    val pipe = new Pipeline(spark, config)
    new Retriever(spark, pipe, config).search(query, mode, k)
  }

  /** Curate a text corpus for training: language + quality filters, exact
    * dedup, token accounting (the most common 100 TB sweep).
    */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
      langs: Set[String] = Set("en"), minQuality: Double = 0.5): DataFrame =
    graft.operators.Curation.curate(docs, idCol, textCol, langs, minQuality)

  /** Top-k neighbors for EVERY query vector in one job (distillation /
    * hard-negative mining shape).
    */
  def batchNeighbors(queries: DataFrame, corpus: DataFrame,
      queryIdCol: String, queryVecCol: String,
      corpusIdCol: String, corpusVecCol: String, k: Int): DataFrame =
    graft.operators.VectorSearch.topKBatch(
      queries, corpus, queryIdCol, queryVecCol, corpusIdCol, corpusVecCol, k)

  /** Build (or fetch the cached) BM25 index over a corpus (S7 surface). */
  def buildFtsIndex(docs: DataFrame, idCol: String, textCol: String,
      cacheKey: Option[String] = None): FtsIndex.Index =
    cacheKey match {
      case Some(k) => FtsIndex.buildCached(k, docs, idCol, textCol)
      case None    => FtsIndex.build(docs, idCol, textCol)
    }

  /** [[curateCorpus]] with fuzzy (MinHash-LSH) document dedup instead of
    * exact — the full published pre-training recipe. The result is the
    * handle's `curated`; close the handle once it is consumed to release
    * the checkpoint blocks the pass pins.
    */
  def curateCorpusNear(docs: DataFrame, idCol: String, textCol: String,
      langs: Set[String] = Set("en"), minQuality: Double = 0.5,
      jaccardThreshold: Double = 0.8): graft.operators.Curation.CurationHandle =
    graft.operators.Curation.curateNearManaged(docs, idCol, textCol, langs, minQuality, jaccardThreshold)

  /** Distinct-count estimate (KMV sketch; deterministic, cross-engine
    * checkable — see Sketches for the grouped and quantile variants).
    */
  def estimateDistinct(df: DataFrame, valueCol: String, k: Int = 256): DataFrame =
    graft.operators.Sketches.kmvDistinct(df, valueCol, k)

  /** Link-graph authority ranks (fixed-point PageRank — see GraphOps). */
  def rankAuthority(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3): DataFrame =
    graft.operators.GraphOps.pageRank(edges, srcCol, dstCol, iters)

  /** Per-document characteristic terms (TF-IDF top-k — see TextAnalysis). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    graft.operators.TextAnalysis.tfidfTopTerms(docs, idCol, textCol, k)

  /** Rebalance a skewed corpus to exactly `perStratum` rows per stratum
    * (deterministic — see Sampling.balanceStrata).
    */
  def balanceCorpus(docs: DataFrame, stratumCol: String, idCol: String,
      perStratum: Int): DataFrame =
    graft.operators.Sampling.balanceStrata(docs, stratumCol, idCol, perStratum)

  /** Work list for incremental reprocessing: ids added/removed/changed
    * between two snapshots (see Curation.snapshotDiff).
    */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.operators.Curation.snapshotDiff(oldDocs, newDocs, idCol, textCol)
      .where(col("status") =!= "unchanged")

  /** Exact phrase hits: documents containing the words as a consecutive
    * run, with occurrence counts (see FtsIndex.phraseOccurrences).
    */
  def searchPhrase(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame =
    graft.operators.FtsIndex.phraseOccurrences(docs, idCol, textCol, phrase)

  /** Keyword-in-context display snippets around the first term hit
    * (see FtsIndex.snippets).
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      term: String, width: Int = 6): DataFrame =
    graft.operators.FtsIndex.snippets(docs, idCol, textCol, term, width)

  /** Score documents by similarity to a target corpus' hashed n-gram
    * distribution — DSIR-style data selection (see ImportanceSampling).
    */
  def scoreAgainstTarget(raw: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String): DataFrame = {
    val w = graft.operators.ImportanceSampling
      .ratioWeights(raw, textCol, target, targetTextCol)
    graft.operators.ImportanceSampling.importanceScores(raw, idCol, textCol, w)
  }

  /** Semantic clusters over an embedding column (deterministic seeded
    * k-means — see Clustering.kmeansAssign).
    */
  def clusterEmbeddings(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): DataFrame =
    graft.operators.Clustering.kmeansAssign(df, idCol, vecCol, k, iters)

  /** SemDeDup: drop semantic near-duplicates, keeping the best-scoring
    * member of every duplicate group (see Clustering.semanticRepresentatives).
    */
  def dedupSemantic(df: DataFrame, idCol: String, vecCol: String,
      scoreCol: String, k: Int, simFp: Long): DataFrame =
    graft.operators.Clustering
      .semanticRepresentatives(df, idCol, vecCol, scoreCol, k, iters = 3, simFp = simFp)
}
