package graft.sources.pdf

import PdfParser._
import scala.collection.mutable

/** PDF content-stream text extraction → markdown-ish output.
  *
  * Mirrors what the reference gets from `pymupdf4llm.to_markdown`
  * (reference: src/extract/pymupdf_extractor.py:95): per-page text with
  * line structure preserved and headers promoted by font size. This is a
  * text-operator interpreter, not a full renderer:
  *
  *   - BT/ET text blocks; Tj / TJ / ' / " show operators
  *   - line breaks from Td/TD (non-zero ty), T*, Tm (y movement)
  *   - kerning gaps in TJ arrays wider than half an em become spaces
  *   - literal + hex strings; UTF-16BE hex strings (FE FF BOM) decoded
  *   - font size tracked via Tf and the Tm scale; the modal body size is
  *     computed per document and larger lines become `#`/`##` headings
  *     (pymupdf4llm's size-ratio heuristic)
  *
  * Glyph decoding: fonts with an embedded /ToUnicode CMap (the standard
  * for subset-embedded fonts) are decoded through it — `bfchar`/`bfrange`
  * entries, 1- or 2-byte code space; fonts without one fall back to a
  * Latin text encoding (the common case for simple digitally-authored
  * documents). CID fonts lacking ToUnicode come out as raw code units —
  * the same degradation PyMuPDF shows without the table.
  */
object PdfText {

  final case class Line(text: String, fontSize: Double)

  /** A parsed /ToUnicode CMap: fixed code width in bytes + code→text. */
  final case class ToUnicode(codeLen: Int, map: Map[Int, String]) {
    def decode(bytes: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i + codeLen <= bytes.length) {
        var code = 0
        var j = 0
        while (j < codeLen) { code = (code << 8) | (bytes(i + j) & 0xff); j += 1 }
        map.get(code) match {
          case Some(s) => sb.append(s)
          case None =>
            // unmapped code: best-effort — Latin-1 for 1-byte, BMP char
            // for 2-byte (what a missing bfrange usually means)
            if (codeLen == 1) sb.append((code & 0xff).toChar)
            else if (code != 0) sb.append(code.toChar)
        }
        i += codeLen
      }
      sb.toString
    }
  }

  /** Parses a /ToUnicode CMap stream (PDF 32000 §9.10.3): codespacerange
    * fixes the code width; bfchar pairs and bfrange triples map codes to
    * UTF-16BE strings.
    */
  def parseToUnicode(data: Array[Byte]): ToUnicode = {
    val lx = new Lexer(data)
    var codeLen = 0
    val m = Map.newBuilder[Int, String]
    def hexToInt(b: Array[Byte]): Int = {
      var v = 0; var i = 0
      while (i < b.length && i < 4) { v = (v << 8) | (b(i) & 0xff); i += 1 }
      v
    }
    def next(): Option[PdfObj] = {
      lx.skipWs()
      if (lx.atEnd) None
      else {
        val c = lx.data(lx.pos) & 0xff
        if (c == '<') Some(lx.parseHexString())
        else if (c == '[') Some(lx.parseArray())
        else if (c == '/') Some(lx.parseName())
        else {
          val t = lx.readToken()
          if (t.isEmpty) { lx.pos += 1; next() } else Some(PName("#" + t)) // keyword marker
        }
      }
    }
    var tok = next()
    while (tok.isDefined) {
      tok match {
        case Some(PName("#begincodespacerange")) =>
          var done = false
          while (!done) next() match {
            case Some(PName("#endcodespacerange")) | None => done = true
            case Some(PString(lo)) => if (codeLen == 0) codeLen = lo.length
            case _ => ()
          }
        case Some(PName("#beginbfchar")) =>
          var done = false
          var src: Option[Array[Byte]] = None
          while (!done) next() match {
            case Some(PName("#endbfchar")) | None => done = true
            case Some(PString(b)) =>
              src match {
                case None => src = Some(b)
                case Some(s) =>
                  if (codeLen == 0) codeLen = s.length
                  m += hexToInt(s) -> new String(b, "UTF-16BE")
                  src = None
              }
            case _ => ()
          }
        case Some(PName("#beginbfrange")) =>
          var done = false
          val buf = scala.collection.mutable.ArrayBuffer.empty[PdfObj]
          while (!done) next() match {
            case Some(PName("#endbfrange")) | None => done = true
            case Some(o) =>
              buf += o
              if (buf.length == 3) {
                (buf(0), buf(1), buf(2)) match {
                  case (PString(lo), PString(hi), dst) =>
                    if (codeLen == 0) codeLen = lo.length
                    val (l, h) = (hexToInt(lo), hexToInt(hi))
                    dst match {
                      case PString(d0) =>
                        // incrementing range: last UTF-16 unit advances
                        val base = new String(d0, "UTF-16BE")
                        var c = l
                        while (c <= h && c - l < 65536) {
                          val s =
                            if (base.isEmpty) ""
                            else base.dropRight(1) + (base.last + (c - l)).toChar
                          m += c -> s
                          c += 1
                        }
                      case PArr(items) =>
                        items.zipWithIndex.foreach {
                          case (PString(d), k) if l + k <= h =>
                            m += (l + k) -> new String(d, "UTF-16BE")
                          case _ => ()
                        }
                      case _ => ()
                    }
                  case _ => ()
                }
                buf.clear()
              }
          }
        case _ => ()
      }
      tok = next()
    }
    ToUnicode(if (codeLen == 0) 1 else codeLen, m.result())
  }

  /** The page's font-resource → ToUnicode table (fonts without a CMap are
    * absent — they decode via the Latin fallback). `parsed` holds the
    * document's ToUnicode streams parsed so far, so a font shared by every
    * page is decoded once, not once per page against the decode budget.
    */
  def fontCMaps(
      pdf: Pdf,
      page: PDict,
      parsed: java.util.IdentityHashMap[PStream, Option[ToUnicode]]
  ): Map[String, ToUnicode] =
    (for {
      res <- pdf.get(page, "Resources").flatMap(pdf.dictOf).toSeq
      fonts <- pdf.get(res, "Font").flatMap(pdf.dictOf).toSeq
      (name, ref) <- fonts.m.toSeq
      cmap <- pdf.resolve(ref) match {
        case fd: PDict =>
          pdf.get(fd, "ToUnicode") match {
            case Some(s: PStream) =>
              parsed.computeIfAbsent(s, _ =>
                try Some(parseToUnicode(pdf.decodedStream(s)))
                catch {
                  case e: DecodeBudgetException => throw e
                  case _: Exception              => None
                })
            case _ => None
          }
        case _ => None
      }
    } yield name -> cmap).toMap

  /** Extracts all pages, separated by blank lines (page order). */
  def extractMarkdown(pdf: Pdf): String = {
    val pages = pdf.pages
    val allLines = Vector.newBuilder[Vector[Line]]
    val cmaps = new java.util.IdentityHashMap[PStream, Option[ToUnicode]]()
    pages.foreach { page =>
      val content = pdf.pageContent(page)
      allLines += extractLines(content, fontCMaps(pdf, page, cmaps))
    }
    val perPage = allLines.result()
    val body = modalBodySize(perPage.flatten)
    perPage
      .map(lines => lines.map(l => renderLine(l, body)).mkString("\n"))
      .filter(_.nonEmpty)
      .mkString("\n\n")
  }

  /** Modal (most frequent, by char mass) font size = the body size. */
  private def modalBodySize(lines: Seq[Line]): Double = {
    if (lines.isEmpty) return 0.0
    val mass = mutable.Map.empty[Double, Int]
    lines.foreach { l =>
      val key = math.rint(l.fontSize * 10) / 10
      mass(key) = mass.getOrElse(key, 0) + l.text.length
    }
    if (mass.isEmpty) 0.0 else mass.maxBy(_._2)._1
  }

  private def renderLine(l: Line, body: Double): String = {
    val t = l.text.replaceAll("\\s+$", "")
    if (t.isEmpty || body <= 0 || l.fontSize <= 0) t
    else {
      val ratio = l.fontSize / body
      if (ratio >= 1.6) s"# $t"
      else if (ratio >= 1.2) s"## $t"
      else t
    }
  }

  /** Interprets one page's content stream into lines. `fonts` maps font
    * resource names (the Tf operand) to their ToUnicode tables.
    */
  def extractLines(
      content: Array[Byte],
      fonts: Map[String, ToUnicode] = Map.empty
  ): Vector[Line] = {
    val lines = Vector.newBuilder[Line]
    val sb = new StringBuilder
    var curSize = 0.0       // from Tf
    var curFont = ""        // font resource name from Tf
    var tmScale = 1.0       // |b|-ish vertical scale of Tm
    var lineSize = 0.0      // effective size of text on the current line
    val operands = mutable.ArrayBuffer.empty[PdfObj]
    val lx = new Lexer(content)

    def flushLine(): Unit = {
      if (sb.nonEmpty) {
        lines += Line(sb.toString, lineSize)
        sb.clear()
      }
      lineSize = 0.0
    }
    def effSize: Double = math.abs(curSize * tmScale)
    def show(s: PString): Unit = {
      val t = fonts.get(curFont) match {
        case Some(cmap) => cmap.decode(s.bytes)
        case None       => decodeText(s.bytes)
      }
      if (t.nonEmpty) {
        sb.append(t)
        if (effSize > lineSize) lineSize = effSize
      }
    }
    def num(o: PdfObj): Double = o match { case PNum(v) => v; case _ => 0.0 }

    var done = false
    while (!done) {
      lx.skipWs()
      if (lx.atEnd) done = true
      else {
        val b = lx.data(lx.pos) & 0xff
        if (b == '/' || b == '(' || b == '[' || b == '<') {
          try operands += lx.parseObj()
          catch { case _: Exception => done = true }
        } else {
          val tok = lx.readToken()
          if (tok.isEmpty) { lx.pos += 1 }
          else if (isNumberToken(tok)) {
            try operands += PNum(java.lang.Double.parseDouble(tok))
            catch { case _: NumberFormatException => () }
          } else {
            tok match {
              case "Tj" =>
                operands.lastOption.foreach { case s: PString => show(s); case _ => () }
              case "'" =>
                flushLine()
                operands.lastOption.foreach { case s: PString => show(s); case _ => () }
              case "\"" =>
                flushLine()
                operands.lastOption.foreach { case s: PString => show(s); case _ => () }
              case "TJ" =>
                operands.lastOption.foreach {
                  case PArr(items) =>
                    items.foreach {
                      case s: PString => show(s)
                      case PNum(v) =>
                        // adjustment in thousandths of an em; a wide
                        // negative gap is an inter-word space
                        if (v <= -180 && sb.nonEmpty && !sb.last.isWhitespace) sb.append(' ')
                      case _ => ()
                    }
                  case _ => ()
                }
              case "Td" | "TD" =>
                if (operands.length >= 2 && num(operands(operands.length - 1)) != 0.0) flushLine()
              case "T*" => flushLine()
              case "Tm" =>
                if (operands.length >= 6) {
                  val d = num(operands(operands.length - 3))
                  val ty = num(operands(operands.length - 1))
                  val newScale = if (d != 0.0) math.abs(d) else 1.0
                  // a Tm that moves y (or rescales) starts a new line
                  if (sb.nonEmpty && (ty != 0.0 || newScale != tmScale)) flushLine()
                  tmScale = newScale
                }
              case "Tf" =>
                if (operands.nonEmpty) curSize = num(operands.last)
                operands.headOption.foreach {
                  case PName(n) => curFont = n
                  case _        => ()
                }
              case "BT" =>
                tmScale = 1.0
              case "ET" => flushLine()
              case "BI" =>
                // inline image: skip to EI
                skipInlineImage(lx)
              case _ => () // all other operators: ignore
            }
            operands.clear()
          }
        }
      }
    }
    flushLine()
    lines.result()
  }

  private def isNumberToken(t: String): Boolean = {
    if (t.isEmpty) return false
    val c = t.charAt(0)
    (c >= '0' && c <= '9') || c == '-' || c == '+' || c == '.'
  }

  private def skipInlineImage(lx: Lexer): Unit = {
    // scan for whitespace-delimited "EI"
    var i = lx.pos
    val d = lx.data
    val n = lx.end
    while (i + 1 < n) {
      if (d(i) == 'E' && d(i + 1) == 'I' &&
        (i == 0 || d(i - 1) == ' ' || d(i - 1) == '\n' || d(i - 1) == '\r') &&
        (i + 2 >= n || d(i + 2) == ' ' || d(i + 2) == '\n' || d(i + 2) == '\r')) {
        lx.pos = i + 2
        return
      }
      i += 1
    }
    lx.pos = n
  }

  /** PDF string bytes → text. UTF-16BE when BOM'd, else PDFDocEncoding
    * (Latin-1-compatible for the printable range).
    */
  def decodeText(bytes: Array[Byte]): String = {
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe && (bytes(1) & 0xff) == 0xff)
      new String(bytes, 2, bytes.length - 2, "UTF-16BE")
    else new String(bytes, "ISO-8859-1")
  }
}
