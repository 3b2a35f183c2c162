package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PdfSource
import graft.sources.PdfSource.{Extraction, PdfExtractor}

/** Conformance contract for extraction providers (VERDICT r3 #10): the
  * pipeline's guarantees — content-derived ids, quality gating, failure
  * routing — hold only if every provider satisfies the properties below.
  * The offline build runs them against the deterministic stubs; wiring a
  * REAL provider later (PDFBox/Tika when a PDF library is available) is
  * drop-in: implement [[PdfExtractor]] and add one `conforms(...)` line
  * here. No fake extraction is claimed — the stub is a seam, and this
  * spec is the seam's contract.
  */
class ProviderContractSpec extends AnyFunSuite {

  private val textPdf: Array[Byte] =
    "%PDF-1.4\n# Title From Content\n\nBody paragraph one. Body paragraph two.".getBytes("UTF-8")
  private val binaryPdf: Array[Byte] =
    "%PDF-1.4\n".getBytes("UTF-8") ++ Array.tabulate[Byte](4096)(i => (i % 251).toByte)
  private val empty: Array[Byte] = Array.emptyByteArray

  /** The properties the pipeline relies on, for ANY provider. */
  private def conforms(p: PdfExtractor): Unit = {
    // 1. total: corrupt/empty/binary input must produce an Extraction
    //    (error-valued if need be), never an exception — failed rows are
    //    routed to the 'failed' ledger status, not a crashed job
    val onEmpty = p.extract("/in/empty.pdf", empty)
    val onBinary = p.extract("/in/bin.pdf", binaryPdf)
    val onText = p.extract("/in/text.pdf", textPdf)

    // 2. determinism: ids are content-derived (sha256) and reprocess must
    //    be stable, so extraction is a pure function of (path, content)
    assert(p.extract("/in/text.pdf", textPdf) == onText, s"${p.name}: non-deterministic")
    assert(p.extract("/in/bin.pdf", binaryPdf) == onBinary, s"${p.name}: non-deterministic on binary")

    // 3. success means usable output: no error implies non-empty markdown
    //    and pageCount >= 1 (quality metrics divide by page_count)
    Seq(onText, onBinary).foreach { e =>
      if (e.error.isEmpty) {
        assert(e.markdown != null && e.markdown.nonEmpty, s"${p.name}: empty success markdown")
        assert(e.pageCount >= 1, s"${p.name}: pageCount ${e.pageCount} < 1 on success")
      }
    }
    assert(onEmpty != null, s"${p.name}: empty input must still yield an Extraction")

    // 4. markdown structure: a text-bearing document keeps its text
    //    reachable (the chunker sections on headers; a provider that
    //    mangles all content would silently produce empty chunk sets)
    assert(onText.error.isEmpty, s"${p.name}: text document extraction errored: ${onText.error}")
    assert(onText.markdown.contains("Title From Content"), s"${p.name}: lost document text")

    // 5. UDF-safe: providers run inside executor-side closures
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(p)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[PdfExtractor]
    assert(back.extract("/in/text.pdf", textPdf) == onText,
      s"${p.name}: serialized round-trip changed behavior")
  }

  test("stub provider satisfies the extraction contract") {
    conforms(PdfSource.StubExtractor)
  }

  test("jvm provider (real parser) satisfies the extraction contract") {
    conforms(PdfSource.JvmExtractor)
  }

  test("jvm provider on a REAL document satisfies the contract and extracts true content") {
    val real = graft.pdf.PdfGen.pdf(
      Seq(Seq(graft.pdf.PdfGen.Run("Contract Title", 24.0),
        graft.pdf.PdfGen.Run("Contract body text with several words."))),
      compress = true)
    val e1 = PdfSource.JvmExtractor.extract("/in/real.pdf", real)
    val e2 = PdfSource.JvmExtractor.extract("/in/real.pdf", real)
    assert(e1 == e2, "jvm: non-deterministic on real documents")
    assert(e1.error.isEmpty && e1.pageCount == 1)
    assert(e1.markdown.contains("Contract Title") && e1.markdown.contains("Contract body text"))
  }

  test("ocr_stub provider satisfies the extraction contract") {
    conforms(PdfSource.OcrStubExtractor)
  }

  test("ocr provider pages are marked in the reference format") {
    // google_vision_extractor.py concatenates per-page '<!-- Page N -->'
    // markers; downstream tooling may key on them, so the format is part
    // of the OCR provider contract
    val e: Extraction = PdfSource.OcrStubExtractor.extract("/in/text.pdf", textPdf)
    val markers = "<!-- Page (\\d+) -->".r.findAllMatchIn(e.markdown).map(_.group(1).toInt).toSeq
    assert(markers.nonEmpty, "OCR output must carry page markers")
    assert(markers == (1 to e.pageCount), s"markers $markers must be 1..${e.pageCount}")
  }

  test("ocr_stub concatenation preserves every character of the underlying text") {
    // the reference emits '\n\n<!-- Page N -->\n\n{page_text}' per page and
    // joins (google_vision_extractor.py:118,125); pagination must be pure
    // framing — stripping the markers must reassemble the exact document,
    // with no characters lost or invented at page boundaries
    val big = ("%PDF-1.4\n" + (1 to 120).map(i => s"Paragraph $i of the scanned body.").mkString(" "))
      .getBytes("UTF-8")
    val plain = PdfSource.StubExtractor.extract("/in/big.pdf", big)
    val ocr = PdfSource.OcrStubExtractor.extract("/in/big.pdf", big)
    assert(ocr.pageCount == plain.pageCount)
    assert(plain.pageCount > 1, "fixture must span multiple pages to test the boundaries")
    val reassembled = ocr.markdown
      .split("\n\n<!-- Page \\d+ -->\n\n|^<!-- Page \\d+ -->\n\n").mkString
    assert(reassembled == plain.markdown,
      s"page framing altered the content: ${reassembled.take(80)}... vs ${plain.markdown.take(80)}...")
  }

  test("unknown provider names fail loudly, not silently") {
    val err = intercept[IllegalArgumentException] {
      PdfSource.extractor(ExtractionConfig(method = "pymupdf"))
    }
    assert(err.getMessage.contains("not available"),
      "the offline build must say WHY a real provider cannot be constructed")
  }
}
