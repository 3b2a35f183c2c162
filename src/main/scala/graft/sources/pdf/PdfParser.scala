package graft.sources.pdf

import java.util.zip.Inflater
import scala.collection.mutable

/** Minimal pure-JVM PDF parser — zero dependencies beyond `java.util.zip`.
  *
  * Replaces the reference's PyMuPDF usage (reference:
  * src/extract/pymupdf_extractor.py:53-148 opens the document, reads
  * `page_count`, and extracts text; src/extract/image_extractor.py:23-155
  * enumerates embedded images per page) in this zero-egress build where no
  * PDF library jar exists. Scope is deliberately the subset those two
  * call-sites need:
  *
  *   - object model: numbers, booleans, null, names, strings (literal +
  *     hex), arrays, dictionaries, indirect references, streams
  *   - cross-references: classic `xref` tables, PDF 1.5 xref *streams*
  *     (/Type /XRef with /W field widths + PNG predictors), and compressed
  *     object streams (/Type /ObjStm) — plus a lexical full-file object
  *     scan as the recovery path for PDFs with broken offsets
  *   - filters: FlateDecode (java.util.zip.Inflater) and LZWDecode,
  *     both with PNG (Sub/Up/Average/Paeth) and TIFF predictors,
  *     ASCIIHexDecode, ASCII85Decode, RunLengthDecode; DCTDecode
  *     payloads pass through raw (they ARE a JPEG file)
  *   - page tree walk with attribute inheritance (/Resources, /Contents)
  *   - encryption detection (/Encrypt in the trailer → password_protected,
  *     the validator branch at reference src/extract/validator.py:58-66)
  *
  * Parsing is a driver-free, per-row operation: it runs inside executor
  * tasks over `binaryFile` rows (the whole file is already in memory as
  * one cell), so there is nothing distributed to get wrong — the scale
  * story is the surrounding mapPartitions fan-out, not this class.
  */
object PdfParser {

  // ---------------------------------------------------------------- model

  sealed trait PdfObj
  final case class PNum(v: Double) extends PdfObj {
    def toInt: Int = v.toInt
    def toLong: Long = v.toLong
  }
  final case class PBool(v: Boolean) extends PdfObj
  case object PNull extends PdfObj
  final case class PName(v: String) extends PdfObj
  final case class PString(bytes: Array[Byte]) extends PdfObj
  final case class PArr(items: Vector[PdfObj]) extends PdfObj
  final case class PDict(m: Map[String, PdfObj]) extends PdfObj {
    def get(key: String): Option[PdfObj] = m.get(key)
  }
  final case class PRef(num: Int, gen: Int) extends PdfObj
  /** `raw` is the undecoded stream payload; call [[Pdf.decodedStream]]. */
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PdfObj

  class PdfParseException(msg: String) extends RuntimeException(msg)

  /** A document whose filters decode past [[MaxStreamBytes]] in one
    * stream or [[MaxDocumentBytes]] over all its streams (a decompression
    * bomb). Unlike other parse failures inside one object, it is never
    * recovered from: the whole document is rejected.
    */
  final class DecodeBudgetException(msg: String) extends PdfParseException(msg)

  /** Decoded bytes one stream may produce through its filters. */
  val MaxStreamBytes: Long = 64L << 20

  /** Decoded bytes all the streams of one document may produce together. */
  val MaxDocumentBytes: Long = 256L << 20
  final class PdfEncryptedException(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------------- lexer

  /** Tokenizer/parser over a byte window. PDF syntax is 8-bit; we index
    * bytes directly and only decode to chars where the spec says text.
    */
  final class Lexer(val data: Array[Byte], var pos: Int, val end: Int) {
    def this(data: Array[Byte]) = this(data, 0, data.length)

    @inline private def isWs(b: Int): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0
    @inline private def isDelim(b: Int): Boolean =
      b == '(' || b == ')' || b == '<' || b == '>' || b == '[' || b == ']' ||
        b == '{' || b == '}' || b == '/' || b == '%'
    @inline def atEnd: Boolean = pos >= end
    @inline private def cur: Int = if (pos < end) data(pos) & 0xff else -1

    def skipWs(): Unit = {
      var done = false
      while (!done && pos < end) {
        val b = cur
        if (isWs(b)) pos += 1
        else if (b == '%') { // comment to EOL
          while (pos < end && data(pos) != '\n' && data(pos) != '\r') pos += 1
        } else done = true
      }
    }

    /** Reads a bare keyword/number token (not strings/arrays/dicts). */
    def readToken(): String = {
      skipWs()
      val start = pos
      while (pos < end && !isWs(cur) && !isDelim(cur)) pos += 1
      new String(data, start, pos - start, "US-ASCII")
    }

    def peekToken(): String = {
      val save = pos
      val t = readToken()
      pos = save
      t
    }

    // recursion guard: arrays/dicts nest through parseObj; a malformed
    // file of 50k '[' bytes would otherwise StackOverflowError — fatal,
    // NOT caught by the extractors' NonFatal handlers, so it would kill
    // the Spark task instead of routing the file to the failed ledger
    private var depth = 0
    private val MaxDepth = 200

    /** Parses the next object. `refs = true` resolves `N G R` lookahead. */
    def parseObj(): PdfObj = {
      skipWs()
      if (atEnd) throw new PdfParseException("unexpected end of data")
      depth += 1
      if (depth > MaxDepth) { depth -= 1; throw new PdfParseException(s"nesting deeper than $MaxDepth") }
      try {
        val b = cur
        b match {
          case '/' => parseName()
          case '(' => parseLiteralString()
          case '[' => parseArray()
          case '<' =>
            if (pos + 1 < end && data(pos + 1) == '<') parseDictOrStream()
            else parseHexString()
          case _ =>
            val tok = readToken()
            if (tok.isEmpty) { pos += 1; return PNull } // stray delimiter; skip
            tok match {
              case "true"  => PBool(true)
              case "false" => PBool(false)
              case "null"  => PNull
              case _ =>
                // number, possibly the start of an `N G R` indirect reference
                val n = numOf(tok).getOrElse(throw new PdfParseException(s"bad token '$tok' @ $pos"))
                val save = pos
                val t2 = readToken()
                numOf(t2) match {
                  // length cap: a digit run past Int range must not throw
                  case Some(_) if t2.nonEmpty && t2.length <= 9 && t2.forall(_.isDigit) =>
                    val t3 = readToken()
                    if (t3 == "R") PRef(n.toInt, t2.toInt)
                    else { pos = save; PNum(n) }
                  case _ => pos = save; PNum(n)
                }
            }
        }
      } finally depth -= 1
    }

    private def numOf(s: String): Option[Double] =
      try { if (s.isEmpty) None else Some(java.lang.Double.parseDouble(s)) }
      catch { case _: NumberFormatException => None }

    def parseName(): PName = {
      pos += 1 // '/'
      val sb = new StringBuilder
      while (pos < end && !isWs(cur) && !isDelim(cur)) {
        val c = cur
        if (c == '#' && pos + 2 < end) {
          val hex = new String(data, pos + 1, 2, "US-ASCII")
          try { sb.append(Integer.parseInt(hex, 16).toChar); pos += 3 }
          catch { case _: NumberFormatException => sb.append(c.toChar); pos += 1 }
        } else { sb.append(c.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    def parseLiteralString(): PString = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (pos < end && depth > 0) {
        val c = cur
        c match {
          case '\\' =>
            pos += 1
            if (pos < end) {
              val e = cur
              e match {
                case 'n' => out.write('\n'); pos += 1
                case 'r' => out.write('\r'); pos += 1
                case 't' => out.write('\t'); pos += 1
                case 'b' => out.write('\b'); pos += 1
                case 'f' => out.write('\f'); pos += 1
                case '(' => out.write('('); pos += 1
                case ')' => out.write(')'); pos += 1
                case '\\' => out.write('\\'); pos += 1
                case '\r' => // line continuation
                  pos += 1; if (pos < end && data(pos) == '\n') pos += 1
                case '\n' => pos += 1
                case d if d >= '0' && d <= '7' =>
                  var v = 0; var i = 0
                  while (i < 3 && pos < end && cur >= '0' && cur <= '7') {
                    v = v * 8 + (cur - '0'); pos += 1; i += 1
                  }
                  out.write(v & 0xff)
                case other => out.write(other); pos += 1
              }
            }
          case '(' => depth += 1; out.write('('); pos += 1
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(')')
            pos += 1
          case other => out.write(other); pos += 1
        }
      }
      PString(out.toByteArray)
    }

    def parseHexString(): PString = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var done = false
      while (pos < end && !done) {
        val c = cur
        if (c == '>') { done = true; pos += 1 }
        else {
          val v = Character.digit(c, 16)
          if (v >= 0) {
            if (hi < 0) hi = v
            else { out.write((hi << 4) | v); hi = -1 }
          }
          pos += 1
        }
      }
      if (hi >= 0) out.write(hi << 4) // odd digit count: pad with 0
      PString(out.toByteArray)
    }

    def parseArray(): PArr = {
      pos += 1 // '['
      val items = Vector.newBuilder[PdfObj]
      var done = false
      while (!done) {
        skipWs()
        if (atEnd) done = true
        else if (cur == ']') { pos += 1; done = true }
        else items += parseObj()
      }
      PArr(items.result())
    }

    /** `<< ... >>`, optionally followed by `stream ... endstream`. */
    def parseDictOrStream(): PdfObj = {
      pos += 2 // '<<'
      val m = Map.newBuilder[String, PdfObj]
      var done = false
      while (!done) {
        skipWs()
        if (atEnd) done = true
        else if (cur == '>' && pos + 1 < end && data(pos + 1) == '>') { pos += 2; done = true }
        else if (cur == '/') {
          val k = parseName().v
          val v = parseObj()
          m += (k -> v)
        } else pos += 1 // tolerate junk
      }
      val dict = PDict(m.result())
      val save = pos
      skipWs()
      if (peekToken() == "stream") {
        readToken()
        // EOL after `stream`: CRLF or LF
        if (pos < end && data(pos) == '\r') pos += 1
        if (pos < end && data(pos) == '\n') pos += 1
        val start = pos
        val len = dict.get("Length") match {
          case Some(PNum(n)) => Some(n.toInt)
          case _             => None // indirect /Length: locate endstream lexically
        }
        val dataEnd = len match {
          case Some(l) if start + l <= end && endstreamNear(start + l) => start + l
          case _ => findEndstream(start)
        }
        pos = dataEnd
        skipWs()
        if (peekToken() == "endstream") readToken()
        PStream(dict, java.util.Arrays.copyOfRange(data, start, dataEnd))
      } else { pos = save; dict }
    }

    private def endstreamNear(p: Int): Boolean = {
      var i = p
      var guard = 0
      while (i < end && isWs(data(i) & 0xff) && guard < 4) { i += 1; guard += 1 }
      matchesAt(i, "endstream")
    }

    private def matchesAt(p: Int, s: String): Boolean = {
      if (p + s.length > end) return false
      var i = 0
      while (i < s.length) { if (data(p + i) != s.charAt(i)) return false; i += 1 }
      true
    }

    private def findEndstream(from: Int): Int = {
      var i = from
      while (i < end) {
        if (data(i) == 'e' && matchesAt(i, "endstream")) {
          // trim one preceding EOL (the spec's stream EOL convention)
          var j = i
          if (j > from && data(j - 1) == '\n') j -= 1
          if (j > from && data(j - 1) == '\r') j -= 1
          return j
        }
        i += 1
      }
      end
    }
  }

  // ------------------------------------------------------------- filters

  /** Output of one expanding filter (Flate, LZW, RunLength): throws
    * [[DecodeBudgetException]] instead of growing past [[MaxStreamBytes]],
    * so a bomb never holds more heap than that.
    */
  private final class CappedBuffer(initial: Int = 32)
      extends java.io.ByteArrayOutputStream(initial) {
    private def reserve(n: Int): Unit =
      if (count.toLong + n > MaxStreamBytes)
        throw new DecodeBudgetException(s"a stream decodes past $MaxStreamBytes bytes")
    override def write(b: Int): Unit = { reserve(1); super.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      reserve(len); super.write(b, off, len)
    }
  }

  def inflate(in: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(in)
      val out = new CappedBuffer(math.min(MaxStreamBytes, math.max(64L, in.length * 4L)).toInt)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsDictionary()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (inf.needsInput()) {
          // truncated payload: salvage what inflated so far
          return out.toByteArray
        }
      }
      out.toByteArray
    } finally inf.end()
  }

  /** PNG row predictors (spec 7.4.4.4): each row is [filterByte, data...].
    * TIFF predictor 2 is horizontal differencing without filter bytes.
    */
  def applyPredictor(data: Array[Byte], predictor: Int, colors: Int, bpc: Int, columns: Int): Array[Byte] = {
    if (predictor <= 1) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (predictor == 2) { // TIFF horizontal
      val out = data.clone()
      var r = 0
      while (r * rowLen < out.length) {
        var i = bpp
        while (i < rowLen && r * rowLen + i < out.length) {
          val p = r * rowLen + i
          out(p) = ((out(p) & 0xff) + (out(p - bpp) & 0xff)).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    // PNG predictors (>= 10)
    val stride = rowLen + 1
    val rows = data.length / stride
    val out = new Array[Byte](rows * rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * stride) & 0xff
      val src = r * stride + 1
      val dst = r * rowLen
      var i = 0
      while (i < rowLen) {
        val raw = data(src + i) & 0xff
        val left = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
        val up = if (r > 0) out(dst - rowLen + i) & 0xff else 0
        val ul = if (r > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) / 2)
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => raw
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    out
  }

  def asciiHexDecode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var hi = -1
    var i = 0
    var done = false
    while (i < in.length && !done) {
      val c = in(i) & 0xff
      if (c == '>') done = true
      else {
        val v = Character.digit(c, 16)
        if (v >= 0) { if (hi < 0) hi = v else { out.write((hi << 4) | v); hi = -1 } }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    out.toByteArray
  }

  def ascii85Decode(in: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    def emit(count: Int): Unit = { // count = bytes to emit (group may be partial)
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < n) grp(k) else 84); k += 1 } // pad with 'u'
      var shift = 24
      var e = 0
      while (e < count) { out.write(((v >>> shift) & 0xff).toInt); shift -= 8; e += 1 }
    }
    while (i < in.length && !done) {
      val c = in(i) & 0xff
      if (c == '~') done = true // "~>" terminator
      else if (c == 'z' && n == 0) out.write(Array[Byte](0, 0, 0, 0))
      else if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'
        n += 1
        if (n == 5) { emit(4); n = 0 }
      } // whitespace and junk: skipped
      i += 1
    }
    if (n >= 2) emit(n - 1)
    out.toByteArray
  }

  /** PDF-variant LZW (spec 7.4.4): 9→12-bit MSB-first codes, 256=clear,
    * 257=EOD, `earlyChange` widens one code early (the default).
    */
  def lzwDecode(in: Array[Byte], earlyChange: Int = 1): Array[Byte] = {
    val out = new CappedBuffer()
    val dict = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096)
    def reset(): Unit = {
      dict.clear()
      var i = 0
      while (i < 256) { dict += Array(i.toByte); i += 1 }
      dict += null; dict += null // 256 clear, 257 EOD
    }
    reset()
    var width = 9
    var bitPos = 0L
    val totalBits = in.length.toLong * 8
    def read(): Int = {
      if (bitPos + width > totalBits) return 257
      var v = 0
      var i = 0
      while (i < width) {
        val b = in((bitPos >> 3).toInt) & 0xff
        v = (v << 1) | ((b >> (7 - (bitPos & 7).toInt)) & 1)
        bitPos += 1
        i += 1
      }
      v
    }
    var prev: Array[Byte] = null
    var done = false
    while (!done) {
      val code = read()
      if (code == 257) done = true
      else if (code == 256) { reset(); width = 9; prev = null }
      else {
        val entry: Array[Byte] =
          if (code < dict.length && dict(code) != null) dict(code)
          else if (prev != null && code == dict.length) prev :+ prev(0) // KwKwK case
          else { done = true; null }
        if (entry != null) {
          out.write(entry)
          if (prev != null) dict += (prev :+ entry(0))
          prev = entry
          if (dict.length + earlyChange >= (1 << width) && width < 12) width += 1
        }
      }
    }
    out.toByteArray
  }

  def runLengthDecode(in: Array[Byte]): Array[Byte] = {
    val out = new CappedBuffer()
    var i = 0
    var done = false
    while (i < in.length && !done) {
      val l = in(i) & 0xff
      if (l == 128) done = true
      else if (l < 128) {
        val n = l + 1
        out.write(in, i + 1, math.min(n, in.length - i - 1))
        i += 1 + n
      } else {
        val n = 257 - l
        if (i + 1 < in.length) { var k = 0; while (k < n) { out.write(in(i + 1)); k += 1 } }
        i += 2
      }
    }
    out.toByteArray
  }

  // -------------------------------------------------------------- document

  /** Decoded bytes a document may still produce ([[MaxDocumentBytes]]
    * less what its streams have decoded so far); shared by every view of
    * one parse.
    */
  private[pdf] final class DecodeBudget { var left: Long = MaxDocumentBytes }

  /** A parsed PDF document: the resolved object table + trailer. */
  final class Pdf private[pdf] (
      val objects: Map[Int, PdfObj],
      val trailer: PDict,
      budget: DecodeBudget
  ) {
    def resolve(o: PdfObj): PdfObj = resolveHops(o, 0)

    // hop cap: a reference cycle (1 0 R -> 2 0 R -> 1 0 R) must resolve
    // to null, not recurse forever
    @annotation.tailrec
    private def resolveHops(o: PdfObj, hops: Int): PdfObj = o match {
      case PRef(n, _) =>
        if (hops >= 64) PNull
        else objects.get(n) match {
          case Some(x) => resolveHops(x, hops + 1)
          case None    => PNull
        }
      case other => other
    }
    def dictOf(o: PdfObj): Option[PDict] = resolve(o) match {
      case d: PDict      => Some(d)
      case PStream(d, _) => Some(d)
      case _             => None
    }
    def get(d: PDict, key: String): Option[PdfObj] = d.get(key).map(resolve)
    def int(d: PDict, key: String): Option[Int] = get(d, key) match {
      case Some(PNum(n)) => Some(n.toInt)
      case _             => None
    }
    def name(d: PDict, key: String): Option[String] = get(d, key) match {
      case Some(PName(n)) => Some(n)
      case _              => None
    }

    /** A stream dict's /Filter chain, normalized to names (single name,
      * array, or absent) — shared by text decode and image enumeration
      * so the two can never disagree on the same stream.
      */
    def filtersOf(d: PDict): Seq[String] = get(d, "Filter") match {
      case Some(PName(fn)) => Seq(fn)
      case Some(PArr(a))   => a.map(resolve).collect { case PName(fn) => fn }
      case _               => Seq.empty
    }

    /** Decodes a stream through its /Filter chain (+ /DecodeParms). */
    def decodedStream(s: PStream): Array[Byte] = {
      val filters = filtersOf(s.dict)
      val parms: Seq[Option[PDict]] = get(s.dict, "DecodeParms").orElse(get(s.dict, "DP")) match {
        case Some(d: PDict) => Seq(Some(d))
        case Some(PArr(a))  => a.map(x => dictOf(x))
        case _              => Seq.empty
      }
      var data = s.raw
      var i = 0
      while (i < filters.length) {
        val pm = if (i < parms.length) parms(i) else None
        filters(i) match {
          case "FlateDecode" | "Fl" =>
            data = inflate(data)
            pm.foreach { d =>
              val pred = int(d, "Predictor").getOrElse(1)
              if (pred > 1)
                data = applyPredictor(
                  data, pred,
                  int(d, "Colors").getOrElse(1),
                  int(d, "BitsPerComponent").getOrElse(8),
                  int(d, "Columns").getOrElse(1))
            }
          case "ASCIIHexDecode" | "AHx" => data = asciiHexDecode(data)
          case "ASCII85Decode" | "A85" => data = ascii85Decode(data)
          case "RunLengthDecode" | "RL" => data = runLengthDecode(data)
          case "LZWDecode" | "LZW" =>
            val early = pm.flatMap(d => int(d, "EarlyChange")).getOrElse(1)
            data = lzwDecode(data, early)
            pm.foreach { d =>
              val pred = int(d, "Predictor").getOrElse(1)
              if (pred > 1)
                data = applyPredictor(
                  data, pred,
                  int(d, "Colors").getOrElse(1),
                  int(d, "BitsPerComponent").getOrElse(8),
                  int(d, "Columns").getOrElse(1))
            }
          case "DCTDecode" | "DCT" | "JPXDecode" => // raw payload IS the image file
          case _ => // unknown filter (CCITT, JBIG2...): leave raw
        }
        i += 1
      }
      if (filters.nonEmpty) {
        budget.left -= data.length
        if (budget.left < 0)
          throw new DecodeBudgetException(s"document decodes past $MaxDocumentBytes bytes")
      }
      data
    }

    def catalog: Option[PDict] = get(trailer, "Root").flatMap(dictOf)

    /** All page dicts, document order, with inheritable attributes merged
      * (the page-tree /Resources//MediaBox inheritance rule).
      */
    def pages: Vector[PDict] = {
      val out = Vector.newBuilder[PDict]
      val seen = mutable.Set.empty[Int] // cycle guard on node refs
      // depth cap: a (malformed) linear chain of distinct Pages nodes
      // would otherwise recurse to StackOverflowError — fatal, unlike
      // PdfParseException
      def walk(node: PDict, inherited: Map[String, PdfObj], depth: Int): Unit = {
        if (depth > 256) return
        val inh = inherited ++ node.m.view.filterKeys(k =>
          k == "Resources" || k == "MediaBox" || k == "Rotate" || k == "CropBox").toMap
        name(node, "Type") match {
          case Some("Page") => out += PDict(inh ++ node.m)
          case _ =>
            get(node, "Kids") match {
              case Some(PArr(kids)) =>
                kids.foreach {
                  case r @ PRef(n, _) =>
                    if (!seen.contains(n)) { seen += n; dictOf(r).foreach(walk(_, inh, depth + 1)) }
                  case k => dictOf(k).foreach(walk(_, inh, depth + 1))
                }
              case _ =>
                // malformed node that still looks like a page
                if (node.get("Contents").nonEmpty) out += PDict(inh ++ node.m)
            }
        }
      }
      catalog.flatMap(c => get(c, "Pages")).flatMap(dictOf) match {
        case Some(root) => walk(root, Map.empty, 0)
        case None =>
          // no catalog (damaged file): every /Type /Page object in order
          objects.toSeq.sortBy(_._1).foreach {
            case (_, d: PDict) if d.get("Type").contains(PName("Page")) => out += d
            case _ => ()
          }
      }
      out.result()
    }

    def pageCount: Int = {
      // prefer the declared /Count on the root Pages node; fall back to walk
      val declared = for {
        c <- catalog
        p <- get(c, "Pages").flatMap(dictOf)
        n <- int(p, "Count")
      } yield n
      declared.filter(_ > 0).getOrElse(pages.length)
    }

    /** Concatenated decoded content streams of a page. */
    def pageContent(page: PDict): Array[Byte] = {
      val streams: Seq[PStream] = get(page, "Contents") match {
        case Some(s: PStream) => Seq(s)
        case Some(PArr(a)) =>
          a.map(resolve).collect { case s: PStream => s }
        case _ => Seq.empty
      }
      if (streams.isEmpty) Array.emptyByteArray
      else {
        val out = new java.io.ByteArrayOutputStream()
        streams.foreach { s => out.write(decodedStream(s)); out.write('\n') }
        out.toByteArray
      }
    }
  }

  /** Parses a PDF from bytes. Strategy: a lexical full-file scan for
    * `N G obj` markers builds the object table (robust to broken xref —
    * later definitions win, matching incremental-update semantics where
    * appended sections override), then object streams (/Type /ObjStm) are
    * expanded, then the trailer is located (classic `trailer` keyword
    * and/or /Type /XRef stream dicts).
    *
    * Throws [[PdfEncryptedException]] for /Encrypt documents and
    * [[PdfParseException]] when no object structure exists.
    */
  def parse(bytes: Array[Byte]): Pdf = {
    if (bytes.length < 8 || !(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F'))
      throw new PdfParseException("missing %PDF header")

    val objects = mutable.Map.empty[Int, PdfObj]
    val objOffsets = mutable.Map.empty[Int, Int] // file offset of each direct object
    // 1. lexical object scan
    var i = 0
    val n = bytes.length
    while (i < n) {
      if (bytes(i) == 'o' && i + 2 < n && bytes(i + 1) == 'b' && bytes(i + 2) == 'j' &&
        (i + 3 >= n || !isRegular(bytes(i + 3)))) {
        // walk back over: ws, gen digits, ws, objnum digits
        var j = i - 1
        while (j >= 0 && isWsB(bytes(j))) j -= 1
        val genEnd = j
        while (j >= 0 && isDigit(bytes(j))) j -= 1
        val genStart = j + 1
        if (genEnd >= genStart) {
          val wsEnd = j
          while (j >= 0 && isWsB(bytes(j))) j -= 1
          if (j < wsEnd) { // at least one ws between num and gen
            val numEnd = j
            while (j >= 0 && isDigit(bytes(j))) j -= 1
            val numStart = j + 1
            // <= 9 digits: a longer run cannot be a real object number and
            // .toInt on it would throw NumberFormatException (outside the
            // parse-failure contract)
            if (numEnd >= numStart && numEnd - numStart < 9 &&
              (numStart == 0 || !isRegular(bytes(numStart - 1)))) {
              val objNum = new String(bytes, numStart, numEnd - numStart + 1, "US-ASCII").toInt
              val lx = new Lexer(bytes, i + 3, n)
              try {
                val obj = lx.parseObj()
                objects(objNum) = obj
                objOffsets(objNum) = numStart
                i = lx.pos - 1
              } catch { case _: Exception => () }
            }
          }
        }
      }
      i += 1
    }
    if (objects.isEmpty) throw new PdfParseException("no PDF objects found")

    // 2. expand object streams (don't overwrite direct definitions)
    val budget = new DecodeBudget
    val pre = new Pdf(objects.toMap, PDict(Map.empty), budget)
    objects.values.toVector.foreach {
      case s @ PStream(d, _) if d.get("Type").contains(PName("ObjStm")) =>
        try {
          val data = pre.decodedStream(s)
          val first = pre.int(d, "First").getOrElse(0)
          val count = pre.int(d, "N").getOrElse(0)
          val hdr = new Lexer(data, 0, math.min(first, data.length))
          var k = 0
          val pairs = Vector.newBuilder[(Int, Int)]
          while (k < count) {
            val num = hdr.readToken()
            val off = hdr.readToken()
            if (num.nonEmpty && num.length <= 9 && num.forall(_.isDigit) &&
              off.nonEmpty && off.length <= 9 && off.forall(_.isDigit))
              pairs += ((num.toInt, off.toInt))
            k += 1
          }
          pairs.result().foreach { case (num, off) =>
            if (!objects.contains(num) && first + off < data.length) {
              val lx = new Lexer(data, first + off, data.length)
              try objects(num) = lx.parseObj()
              catch { case _: Exception => () }
            }
          }
        } catch {
          case e: DecodeBudgetException => throw e
          case _: Exception              => ()
        }
      case _ => ()
    }

    // 3. trailer: classic `trailer` dicts AND /Type /XRef stream dicts,
    // merged in FILE order (later wins per key) — incremental updates are
    // appended, so the last-written section must decide /Root regardless
    // of whether it is a classic trailer or an xref stream; merging one
    // kind wholesale before the other (or in hash order) can resurrect a
    // replaced catalog in hybrid/incrementally-updated files
    val trailerSources = mutable.ArrayBuffer.empty[(Int, Map[String, PdfObj])]
    objects.foreach {
      case (num, PStream(d, _)) if d.get("Type").contains(PName("XRef")) =>
        trailerSources += ((objOffsets.getOrElse(num, 0), d.m))
      case _ => ()
    }
    var t = indexOf(bytes, "trailer", 0)
    while (t >= 0) {
      val lx = new Lexer(bytes, t + 7, n)
      try {
        lx.parseObj() match {
          case PDict(m) => trailerSources += ((t, m))
          case _        => ()
        }
      } catch { case _: Exception => () }
      t = indexOf(bytes, "trailer", t + 7)
    }
    var trailerMap = Map.empty[String, PdfObj]
    trailerSources.sortBy(_._1).foreach { case (_, m) => trailerMap = trailerMap ++ m }
    if (!trailerMap.contains("Root")) {
      // recovery: any object with /Type /Catalog
      objects.collectFirst {
        case (num, d: PDict) if d.get("Type").contains(PName("Catalog")) => num
      }.foreach(num => trailerMap += ("Root" -> PRef(num, 0)))
    }
    val trailer = PDict(trailerMap)
    if (trailerMap.contains("Encrypt"))
      throw new PdfEncryptedException("document has /Encrypt dictionary")
    new Pdf(objects.toMap, trailer, budget)
  }

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isWsB(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0
  @inline private def isRegular(b: Byte): Boolean = {
    val c = b & 0xff
    !(isWsB(b) || c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
      c == ']' || c == '{' || c == '}' || c == '/' || c == '%')
  }

  private def indexOf(hay: Array[Byte], needle: String, from: Int): Int = {
    val nb = needle.getBytes("US-ASCII")
    var i = math.max(0, from)
    val limit = hay.length - nb.length
    while (i <= limit) {
      var j = 0
      while (j < nb.length && hay(i + j) == nb(j)) j += 1
      if (j == nb.length) return i
      i += 1
    }
    -1
  }
}
