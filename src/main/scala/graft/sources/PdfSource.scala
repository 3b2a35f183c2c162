package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ExtractionConfig
import graft.model.ValidationResult

/** PDF ingestion source + validation + extraction provider seam.
  *
  * Source (S1/S2): Spark's `binaryFile` format with a `*.pdf` glob — the
  * distributed analog of the reference's directory glob
  * (src/pipeline.py:170-190). Yields (path, modificationTime, length,
  * content) with `content: binary`.
  *
  * Validation (F1, reference src/extract/validator.py:17-84): the
  * size/page/magic checks as column predicates; parse-level checks
  * (password, corruption) live in the extraction provider.
  *
  * Extraction (U1/U2, reference src/extract/pymupdf_extractor.py:53-148
  * and google_vision_extractor.py:51-177): behind [[PdfExtractor]]. The
  * default provider is [[JvmExtractor]] — a REAL pure-JVM PDF parser
  * ([[graft.sources.pdf.PdfParser]]: xref/objects, FlateDecode, text
  * operators, page tree) with zero dependencies beyond `java.util.zip`.
  * "stub"/"ocr_stub" remain as deterministic offline providers (the OCR
  * path is network-gated in the reference too,
  * src/extract/__init__.py:7-12).
  */
object PdfSource {

  def scan(spark: SparkSession, dir: String): DataFrame = {
    // drop any cached file listing for this path: incremental ingest must
    // see files added since the last scan (Spark's shared FileStatusCache
    // would otherwise serve the stale leaf-file list)
    spark.catalog.refreshByPath(dir)
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.pdf")
      .load(dir)
  }

  /** Verdict including parse-level outcomes surfaced by the extraction
    * provider (`extract_error`): password protection and unrecoverable
    * corruption (reference src/extract/validator.py:58-75 checks
    * `doc.is_encrypted` and catches open failures the same way).
    */
  def validationVerdict(
      length: Column,
      content: Column,
      pageCount: Column,
      extractError: Column,
      cfg: ExtractionConfig
  ): Column = {
    val maxBytes = cfg.maxFileSizeMb.toLong * 1024 * 1024
    when(length > maxBytes, lit(ValidationResult.FileTooLarge))
      // %PDF- magic header = 0x255044462d
      .when(!startsWithPdfMagic(content), lit(ValidationResult.Corrupted))
      .when(extractError === ValidationResult.PasswordProtected, lit(ValidationResult.PasswordProtected))
      .when(extractError === ValidationResult.Corrupted, lit(ValidationResult.Corrupted))
      .when(extractError === ValidationResult.DecodeBudgetExceeded, lit(ValidationResult.DecodeBudgetExceeded))
      .when(pageCount.isNotNull && pageCount === 0, lit(ValidationResult.NoPages))
      .when(pageCount.isNotNull && pageCount > cfg.maxPageCount, lit(ValidationResult.TooManyPages))
      .otherwise(lit(ValidationResult.Valid))
  }

  def startsWithPdfMagic(content: Column): Column =
    substring(content, 1, 5) === lit("%PDF-".getBytes("US-ASCII"))

  /** Driver/executor-side twin of [[startsWithPdfMagic]] for provider code. */
  private[sources] def hasPdfMagic(content: Array[Byte]): Boolean =
    content.length >= 5 && content(0) == '%' && content(1) == 'P' &&
      content(2) == 'D' && content(3) == 'F' && content(4) == '-'

  /** One extracted document: markdown text + page count (+failure). */
  final case class Extraction(markdown: String, pageCount: Int, error: Option[String])

  /** Extraction provider seam (the reference's extractor switch,
    * src/config.py:47, src/extract/__init__.py:7-12).
    */
  trait PdfExtractor extends Serializable {
    def name: String
    def extract(path: String, content: Array[Byte]): Extraction
  }

  /** STUB extractor — no PDF library in this build. Deterministic fake:
    * if the payload decodes as mostly-printable UTF-8 after the header it
    * is treated as the document text (lets tests feed synthetic "PDFs");
    * otherwise a deterministic placeholder derived from the content hash.
    * Page count = ceil(bytes / 2048). Swap in a real provider (PDFBox)
    * by implementing [[PdfExtractor]] — no other code changes.
    */
  object StubExtractor extends PdfExtractor {
    override val name = "stub"
    override def extract(path: String, content: Array[Byte]): Extraction = {
      val pageCount = math.max(1, math.ceil(content.length / 2048.0).toInt)
      val body = new String(content, java.nio.charset.StandardCharsets.UTF_8)
      val text = body.dropWhile(_ != '\n').drop(1) // strip the %PDF- header line
      val printable = text.count(c => c >= ' ' || c == '\n' || c == '\t')
      if (text.nonEmpty && printable.toDouble / text.length > 0.9)
        Extraction(text, pageCount, None)
      else {
        val digest = java.security.MessageDigest
          .getInstance("SHA-256").digest(content).take(8)
          .map("%02x".format(_)).mkString
        Extraction(s"# Document $digest\n\n(binary payload, ${content.length} bytes)", pageCount, None)
      }
    }
  }

  /** STUB OCR extractor — the U2 seam (reference:
    * src/extract/google_vision_extractor.py:51-177 renders each page at
    * 300 DPI and concatenates per-page `<!-- Page N -->` markers; gated
    * behind an availability flag exactly like this). Deterministic here:
    * same text recovery as [[StubExtractor]], paginated with the
    * reference's page-marker format.
    */
  object OcrStubExtractor extends PdfExtractor {
    override val name = "ocr_stub"
    override def extract(path: String, content: Array[Byte]): Extraction = {
      val base = StubExtractor.extract(path, content)
      // ceil so grouping covers the whole string (no tail truncation)
      val perPage = math.max(1, (base.markdown.length + base.pageCount - 1) / base.pageCount)
      val pages = base.markdown.grouped(perPage).toSeq
      val joined = pages.zipWithIndex
        .map { case (p, i) => s"<!-- Page ${i + 1} -->\n\n$p" }
        .mkString("\n\n")
      Extraction(joined, base.pageCount, None)
    }
  }

  /** REAL extractor — the pure-JVM PDF parser ([[graft.sources.pdf.PdfParser]]):
    * xref/object parse, FlateDecode via `java.util.zip.Inflater`, BT/ET
    * `Tj`/`TJ` text operators with a line heuristic, page count from the
    * page tree. Replaces the reference's PyMuPDF call
    * (src/extract/pymupdf_extractor.py:53-148) with zero new dependencies.
    *
    * Outcomes:
    *   - structured PDF → real markdown text + real page count
    *   - /Encrypt → `password_protected` error (validator branch,
    *     src/extract/validator.py:58-66)
    *   - %PDF-headed bytes with no object structure but a mostly-printable
    *     payload → text-salvage recovery (the [[StubExtractor]] behavior;
    *     this is the synthetic-fixture shape used throughout the specs)
    *   - streams that decode past the parser's budget (a decompression
    *     bomb) → `decode_budget_exceeded` via extract_error
    *   - %PDF-headed bytes with no recoverable structure AND a binary
    *     payload → `corrupted` via extract_error (the reference validator
    *     routes open failures to corrupted, src/extract/validator.py:67-75;
    *     fabricating placeholder text + page counts for a genuinely
    *     damaged file would poison the ledger as "valid")
    */
  object JvmExtractor extends PdfExtractor {
    override val name = "jvm"
    override def extract(path: String, content: Array[Byte]): Extraction =
      try {
        val pdf = graft.sources.pdf.PdfParser.parse(content)
        val md = graft.sources.pdf.PdfText.extractMarkdown(pdf)
        val pages = pdf.pageCount
        if (md.trim.isEmpty && pdf.pages.isEmpty)
          // parsed but no page tree / no text: salvage or flag
          salvageOrCorrupt(path, content)
        else Extraction(md, math.max(pages, 1), None)
      } catch {
        case _: graft.sources.pdf.PdfParser.PdfEncryptedException =>
          Extraction("", 0, Some(ValidationResult.PasswordProtected))
        case _: graft.sources.pdf.PdfParser.DecodeBudgetException =>
          Extraction("", 0, Some(ValidationResult.DecodeBudgetExceeded))
        case _: graft.sources.pdf.PdfParser.PdfParseException =>
          salvageOrCorrupt(path, content)
        case scala.util.control.NonFatal(_) =>
          salvageOrCorrupt(path, content)
      }

    /** Parse-failure routing: printable-payload fixtures keep stub text
      * salvage; a %PDF-headed file whose payload is binary garbage is
      * surfaced as corrupted instead of salvaged with invented metadata.
      * Non-%PDF bytes also salvage — the magic-header validator upstream
      * ([[validationVerdict]]) already flags those corrupted on its own.
      */
    private def salvageOrCorrupt(path: String, content: Array[Byte]): Extraction =
      if (!hasPdfMagic(content)) StubExtractor.extract(path, content)
      else {
        // printability is judged over the RAW BYTES: a UTF-8 decode first
        // would collapse every byte >= 0x80 into U+FFFD (which passes a
        // `c >= ' '` test) and shrink invalid multi-byte runs, letting
        // genuinely binary payloads score as printable and get salvaged
        // with fabricated stub text. 7-bit printable = b >= 0x20 plus
        // \n \t \r; anything with the high bit set counts as binary.
        val nl = content.indexOf('\n'.toByte)
        val payload =
          if (nl < 0 || nl + 1 >= content.length) Array.empty[Byte]
          else java.util.Arrays.copyOfRange(content, nl + 1, content.length)
        val printable = payload.count(b =>
          b >= 0x20 || b == '\n'.toByte || b == '\t'.toByte || b == '\r'.toByte)
        if (payload.nonEmpty && printable.toDouble / payload.length > 0.9)
          StubExtractor.extract(path, content)
        else Extraction("", 0, Some(ValidationResult.Corrupted))
      }
  }

  def extractor(cfg: ExtractionConfig): PdfExtractor = cfg.method match {
    case "jvm"      => JvmExtractor
    case "stub"     => StubExtractor
    case "ocr_stub" => OcrStubExtractor
    case other =>
      throw new IllegalArgumentException(
        s"Extraction provider '$other' not available in this build (offline: 'jvm', 'stub', 'ocr_stub')"
      )
  }

  /** Run extraction over a binaryFile scan: adds markdown, page_count,
    * extract_error columns. mapPartitions-shaped (amortizes provider init,
    * the reference's per-parser setup) — a narrow transformation.
    */
  def withExtraction(scanned: DataFrame, cfg: ExtractionConfig = ExtractionConfig()): DataFrame = {
    val ex = extractor(cfg)
    val extractUdf = udf { (path: String, content: Array[Byte]) =>
      val e = ex.extract(path, content)
      (e.markdown, e.pageCount, e.error)
    }
    scanned
      .withColumn("ex", extractUdf(col("path"), col("content")))
      .withColumn("markdown", col("ex._1"))
      .withColumn("page_count", col("ex._2"))
      .withColumn("extract_error", col("ex._3"))
      .drop("ex")
  }
}
