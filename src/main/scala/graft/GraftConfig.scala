package graft

/** Engine configuration, mirroring the reference's config hierarchy
  * (reference: src/config.py:44-110). Defaults match the reference's
  * defaults exactly so chunking / validation / embedding behavior is
  * comparable at parity.
  */
final case class ExtractionConfig(
    /** Extraction provider: "jvm" (the pure-JVM PDF parser,
      * [[graft.sources.pdf.PdfParser]]) is the default — the analog of the
      * reference's "pymupdf" default (src/config.py:47). "stub"/"ocr_stub"
      * remain as the deterministic offline providers ("google_vision" in
      * the reference is likewise gated behind availability).
      */
    method: String = "jvm",
    // File limits (src/config.py:60-61)
    maxFileSizeMb: Int = 50,
    maxPageCount: Int = 500
)

/** Chunking knobs (reference: src/config.py:64-77). `chunkSize` is measured
  * in characters (the reference calls them "tokens" but uses
  * `length_function=len`, src/transform/chunker.py:47).
  */
final case class ChunkingConfig(
    chunkSize: Int = 512,
    chunkOverlap: Int = 50,
    markdownHeaders: Seq[(String, String)] =
      Seq("#" -> "h1", "##" -> "h2", "###" -> "h3")
)

/** Embedding knobs (reference: src/config.py:80-98). The default provider
  * here is the deterministic offline feature-hashing embedder ("hashing");
  * "openai" exists in the reference but requires network egress.
  */
final case class EmbeddingConfig(
    provider: String = "hashing",
    batchSize: Int = 100,
    dimension: Int = 64
)

final case class SearchConfig(
    defaultK: Int = 10,
    maxK: Int = 100,
    contextOverfetchK: Int = 20,
    defaultMaxTokens: Int = 4000,
    // BM25 constants (standard Robertson defaults; design at
    // reference plans/etl-pipeline-plan.md:1125 delegates to LanceDB's
    // Tantivy BM25, which uses the same k1/b)
    bm25K1: Double = 1.2,
    bm25B: Double = 0.75,
    // RRF smoothing constant (plans/etl-pipeline-plan.md:1117-1129)
    rrfK: Int = 60
)

/** Opt-in near-duplicate image dedup at ingest (keep-one-per-cluster).
  * The reference's image flow (src/extract/image_extractor.py:111-155)
  * lands every extracted image; at multimodal-corpus scale the same
  * figure re-encoded across documents must collapse to one stored copy.
  * `maxHamming` is the dHash Hamming radius for "same image".
  */
final case class ImageDedupConfig(
    enabled: Boolean = false,
    maxHamming: Int = 6
)

final case class GraftConfig(
    extraction: ExtractionConfig = ExtractionConfig(),
    chunking: ChunkingConfig = ChunkingConfig(),
    embedding: EmbeddingConfig = EmbeddingConfig(),
    search: SearchConfig = SearchConfig(),
    imageDedup: ImageDedupConfig = ImageDedupConfig(),
    /** Root dir of the parquet catalog (documents/chunks/images/fts tables). */
    warehouseDir: String = "/tmp/graft-warehouse",
    /** Commit protocol behind every atomic directory swap
      * ([[graft.sources.CommitProtocol.forName]]): Some("atomic-move")
      * (POSIX / HDFS rename), Some("copy-delete") (object-store rename
      * semantics), or None — "leave the installed protocol alone" (the
      * default). A Some is installed PROCESS-GLOBALLY by
      * [[graft.pipeline.Pipeline]] at construction — including
      * Some("atomic-move"), which RESTORES the default protocol (ADVICE
      * r16: a plain-string default conflated "unset" with an explicit
      * atomic-move choice, so once any Pipeline installed copy-delete no
      * config could ever restore it). None means a custom protocol
      * installed directly via `CommitProtocol.install` survives later
      * Pipelines built from default configs. A deployment property, not a
      * per-table one.
      */
    commitProtocol: Option[String] = None,
    /** Lease protocol behind every writer lease
      * ([[graft.sources.StoreLease.forName]]): Some("file") (atomic-create
      * lock files — the built-in default) or None — "leave the installed
      * protocol alone" (the default), so a deployment's lock service
      * installed via `StoreLease.install` survives later Pipelines built
      * from default configs. Same Option semantics as [[commitProtocol]].
      */
    leaseProtocol: Option[String] = None
)

object GraftConfig {
  val default: GraftConfig = GraftConfig()
}
