package graft.model

import java.sql.Timestamp

/** Typed data model for the engine, mirroring the reference's four
  * dataclasses (reference: src/models.py:44-173) as Scala case classes with
  * Spark `Encoder`s. Timestamps are `java.sql.Timestamp` (TimestampType);
  * arrays are native Spark `ArrayType` (the reference JSON-encodes
  * page_numbers into SQLite TEXT, src/load/sqlite_store.py:286 — we keep the
  * native array type end-to-end).
  */

/** Document lifecycle status (reference: src/models.py:10-17). */
object DocumentStatus {
  val Pending = "pending"
  val Processing = "processing"
  val Completed = "completed"
  val Failed = "failed"
  val Outdated = "outdated"
  val all: Seq[String] = Seq(Pending, Processing, Completed, Failed, Outdated)
}

/** PDF validation outcome (reference: src/models.py:20-29). */
object ValidationResult {
  val Valid = "valid"
  val FileNotFound = "file_not_found"
  val FileTooLarge = "file_too_large"
  val Corrupted = "corrupted"
  val PasswordProtected = "password_protected"
  val NoPages = "no_pages"
  val TooManyPages = "too_many_pages"
  val DecodeBudgetExceeded = "decode_budget_exceeded" // a decompression bomb
}

/** A source document (reference: src/models.py:44-77, 13 fields). */
final case class Document(
    id: String,
    source_path: String,
    title: String,
    file_hash: String, // "sha256:<hex>" (src/extract/pymupdf_extractor.py:25-31)
    file_size_bytes: Long,
    page_count: Int,
    status: String,
    extraction_method: String,
    markdown_path: Option[String],
    error_message: Option[String],
    uploaded_at: Option[Timestamp],
    processed_at: Option[Timestamp],
    total_chunks: Int
)

/** A text chunk with embedding (reference: src/models.py:80-126). One table
  * serves both the reference's SQLite metadata store and LanceDB text+vector
  * store (SURVEY.md §1.3).
  */
final case class Chunk(
    id: String,
    document_id: String,
    document_title: String,
    text: String,
    section_h1: Option[String],
    section_h2: Option[String],
    section_h3: Option[String],
    chunk_index: Int,
    total_chunks: Int,
    page_numbers: Seq[Int], // vestigial in the reference: always [] (SURVEY §7.4.5)
    token_count: Int,
    is_section_start: Boolean,
    embedding: Option[Seq[Float]],
    created_at: Option[Timestamp]
)

/** Image position on a page (reference JSON-encodes this dict,
  * src/load/sqlite_store.py:358; here a native struct).
  */
final case class ImagePosition(x: Int, y: Int, width: Int, height: Int)

/** An image extracted from a PDF page (reference: src/models.py:129-158). */
final case class ExtractedImage(
    id: String,
    document_id: String,
    page_number: Int,
    image_index: Int,
    file_path: String,
    file_format: String,
    width: Int,
    height: Int,
    size_bytes: Long,
    position: Option[ImagePosition],
    created_at: Option[Timestamp]
)

/** A query-side search hit (reference: src/models.py:161-173; never persisted). */
final case class SearchResult(
    chunk_id: String,
    document_id: String,
    document_title: String,
    text: String,
    section_h1: Option[String],
    section_h2: Option[String],
    score: Double,
    chunk_index: Int
)
