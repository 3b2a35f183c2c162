package graft.pdf

import java.io.ByteArrayOutputStream
import java.util.zip.Deflater

/** Test-scope PDF WRITER: emits real, spec-conformant PDF files so the
  * parser ([[graft.sources.pdf.PdfParser]]) is exercised against genuine
  * documents — correct xref table, object offsets, page tree, content
  * streams (optionally Flate-compressed), embedded images (DCTDecode
  * JPEG / FlateDecode raw RGB), and an /Encrypt variant.
  *
  * Files produced here open in any standard viewer; nothing about them is
  * shaped to this parser's implementation.
  */
object PdfGen {

  /** One text run; each run renders as its own line. */
  final case class Run(text: String, size: Double = 12.0)

  /** An embedded image on `page` (0-based). `jpeg=true` embeds the bytes
    * as a DCTDecode stream (bytes must be a JFIF payload); otherwise
    * `bytes` are raw samples deflated into a FlateDecode stream with the
    * given `colorSpace` (a literal PDF value — name or Indexed array) and
    * bits-per-component.
    */
  final case class Img(
      page: Int,
      width: Int,
      height: Int,
      bytes: Array[Byte],
      jpeg: Boolean,
      colorSpace: String = "/DeviceRGB",
      bpc: Int = 8
  )

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(math.max(64, data.length / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }

  private def esc(s: String): String =
    s.flatMap {
      case '('  => "\\("
      case ')'  => "\\)"
      case '\\' => "\\\\"
      case c    => c.toString
    }

  /** Builds a complete PDF.
    *
    * @param pages     one Seq[Run] per page
    * @param compress  Flate-compress the content streams
    * @param images    embedded images
    * @param encrypted add an /Encrypt dictionary to the trailer (content
    *                  is NOT actually encrypted — enough for detection)
    * @param useTJ     render text runs with TJ kerning arrays instead of Tj
    */
  def pdf(
      pages: Seq[Seq[Run]],
      compress: Boolean = false,
      images: Seq[Img] = Nil,
      encrypted: Boolean = false,
      useTJ: Boolean = false
  ): Array[Byte] = {
    val n = pages.length
    // object numbers: 1 catalog, 2 pages, 3 font, then per page (page,
    // contents) pairs, then images, then optional encrypt dict
    val pageObj = (i: Int) => 4 + 2 * i
    val contObj = (i: Int) => 5 + 2 * i
    val imgObj = (j: Int) => 4 + 2 * n + j
    val encObj = 4 + 2 * n + images.length

    val objects = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]

    val kids = (0 until n).map(i => s"${pageObj(i)} 0 R").mkString(" ")
    objects += 1 -> s"<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1")
    objects += 2 -> s"<< /Type /Pages /Kids [ $kids ] /Count $n >>".getBytes("ISO-8859-1")
    objects += 3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>".getBytes("ISO-8859-1")

    val imagesByPage = images.zipWithIndex.groupBy(_._1.page)

    pages.zipWithIndex.foreach { case (runs, i) =>
      val sb = new StringBuilder
      sb.append("BT\n/F1 12 Tf\n72 720 Td\n")
      var lastSize = 12.0
      runs.zipWithIndex.foreach { case (r, ri) =>
        if (ri > 0) sb.append("0 -18 Td\n")
        if (r.size != lastSize) { sb.append(s"/F1 ${fmt(r.size)} Tf\n"); lastSize = r.size }
        if (useTJ) {
          val words = r.text.split(" ").map(w => s"(${esc(w)})").mkString(" -250 ")
          sb.append(s"[ $words ] TJ\n")
        } else sb.append(s"(${esc(r.text)}) Tj\n")
      }
      sb.append("ET\n")
      imagesByPage.getOrElse(i, Seq.empty).foreach { case (im, j) =>
        sb.append(s"q ${im.width} 0 0 ${im.height} 72 ${400 - j * 10} cm /Im$j Do Q\n")
      }
      val content = sb.toString.getBytes("ISO-8859-1")
      val payload = if (compress) deflate(content) else content
      val filter = if (compress) " /Filter /FlateDecode" else ""
      val head = s"<< /Length ${payload.length}$filter >>\nstream\n".getBytes("ISO-8859-1")
      val tail = "\nendstream".getBytes("ISO-8859-1")

      val xobj = imagesByPage.getOrElse(i, Seq.empty)
        .map { case (_, j) => s"/Im$j ${imgObj(j)} 0 R" }.mkString(" ")
      val res =
        if (xobj.isEmpty) "<< /Font << /F1 3 0 R >> >>"
        else s"<< /Font << /F1 3 0 R >> /XObject << $xobj >> >>"
      objects += pageObj(i) ->
        (s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources $res /Contents ${contObj(i)} 0 R >>").getBytes("ISO-8859-1")
      objects += contObj(i) -> (head ++ payload ++ tail)
    }

    images.zipWithIndex.foreach { case (im, j) =>
      val (payload, filter, extra) =
        if (im.jpeg) (im.bytes, "/DCTDecode", "")
        else (deflate(im.bytes), "/FlateDecode", "")
      val dict = s"<< /Type /XObject /Subtype /Image /Width ${im.width} /Height ${im.height} " +
        s"/ColorSpace ${im.colorSpace} /BitsPerComponent ${im.bpc} " +
        s"/Filter $filter$extra /Length ${payload.length} >>\nstream\n"
      objects += imgObj(j) ->
        (dict.getBytes("ISO-8859-1") ++ payload ++ "\nendstream".getBytes("ISO-8859-1"))
    }

    if (encrypted)
      objects += encObj ->
        ("<< /Filter /Standard /V 1 /R 2 /O <28bf4e5e4e758a41> /U <28bf4e5e4e758a41> /P -44 >>")
          .getBytes("ISO-8859-1")

    layout(objects.toSeq, if (encrypted) s" /Encrypt $encObj 0 R" else "")
  }

  /** A text page of `run` followed by `bombs` pages whose Flate content
    * streams each inflate to `inflated` zero bytes (a decompression bomb:
    * about a thousandth of that on disk).
    */
  def flateBomb(run: Run, bombs: Int, inflated: Long): Array[Byte] = {
    val n = bombs + 1
    val kids = (0 until n).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    val zeros = deflatedZeros(inflated)
    val objects = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1"),
      2 -> s"<< /Type /Pages /Kids [ $kids ] /Count $n >>".getBytes("ISO-8859-1"),
      3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>".getBytes("ISO-8859-1")
    ) ++ (0 until n).flatMap { i =>
      val content =
        if (i == 0) stream(s"BT\n/F1 12 Tf\n72 720 Td\n(${esc(run.text)}) Tj\nET\n"
          .getBytes("ISO-8859-1"), "")
        else stream(zeros, " /Filter /FlateDecode")
      Seq(
        (4 + 2 * i) -> (s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * i} 0 R >>")
          .getBytes("ISO-8859-1"),
        (5 + 2 * i) -> content)
    }
    layout(objects, "")
  }

  /** A stream object body: dictionary (`filter` appended) plus payload. */
  private def stream(payload: Array[Byte], filter: String): Array[Byte] =
    s"<< /Length ${payload.length}$filter >>\nstream\n".getBytes("ISO-8859-1") ++
      payload ++ "\nendstream".getBytes("ISO-8859-1")

  /** `prefix` then `n` zero bytes deflated, without holding the zeros in
    * memory.
    */
  private def deflatedZeros(n: Long, prefix: Array[Byte] = Array.empty): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_COMPRESSION)
    val zeros = new Array[Byte](1 << 20)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    d.setInput(prefix)
    while (!d.needsInput()) out.write(buf, 0, d.deflate(buf))
    var left = n
    while (left > 0) {
      val k = math.min(left, zeros.length.toLong).toInt
      d.setInput(zeros, 0, k)
      left -= k
      while (!d.needsInput()) out.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Header, objects (recording offsets), xref, trailer. */
  private def layout(objects: Seq[(Int, Array[Byte])], trailerExtra: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    ascii("%PDF-1.4\n%âãÏÓ\n")
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    objects.sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size()
      ascii(s"$num 0 obj\n")
      out.write(body)
      ascii("\nendobj\n")
    }
    val xrefPos = out.size()
    val maxObj = objects.map(_._1).max
    ascii(s"xref\n0 ${maxObj + 1}\n")
    ascii("0000000000 65535 f \n")
    (1 to maxObj).foreach { num =>
      offsets.get(num) match {
        case Some(off) => ascii(f"$off%010d 00000 n \n")
        case None      => ascii("0000000000 65535 f \n")
      }
    }
    ascii(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R$trailerExtra >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  private def fmt(d: Double): String =
    if (d == math.rint(d)) d.toLong.toString else d.toString

  /** A PDF using a CID-keyed (Type0/Identity-H) font whose glyph codes
    * are arbitrary 2-byte values mapped to `text`'s characters only via
    * an embedded /ToUnicode CMap — the subset-font shape real-world PDF
    * producers emit. Without CMap decoding the extracted text is
    * garbage; with it, exactly `text`.
    */
  def cidPdf(text: String): Array[Byte] = {
    val (cmap, hexCodes) = cidFont(text)
    val content = s"BT\n/F1 12 Tf\n72 720 Td\n<$hexCodes> Tj\nET\n".getBytes("ISO-8859-1")

    val out = new ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    ascii("%PDF-1.4\n")
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    def obj(num: Int)(body: => Unit): Unit = {
      offsets(num) = out.size()
      ascii(s"$num 0 obj\n"); body; ascii("\nendobj\n")
    }
    obj(1)(ascii("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(2)(ascii("<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>"))
    obj(3)(ascii("<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"))
    obj(4)(ascii("<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Subset " +
      "/Encoding /Identity-H /ToUnicode 6 0 R >>"))
    obj(5) {
      ascii(s"<< /Length ${content.length} >>\nstream\n"); out.write(content); ascii("\nendstream")
    }
    obj(6) {
      ascii(s"<< /Length ${cmap.length} >>\nstream\n"); out.write(cmap); ascii("\nendstream")
    }
    val xrefPos = out.size()
    ascii("xref\n0 7\n0000000000 65535 f \n")
    (1 to 6).foreach(n => ascii(f"${offsets(n)}%010d 00000 n \n"))
    ascii(s"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** [[cidPdf]]'s font on every one of `pages` pages, each showing `text`;
    * its one ToUnicode CMap is Flate-compressed with `padding` NUL bytes
    * (PDF whitespace) after it, so each decode inflates past `padding`.
    */
  def sharedCidFontPdf(text: String, pages: Int, padding: Long): Array[Byte] = {
    val (cmap, hexCodes) = cidFont(text)
    val content = s"BT\n/F1 12 Tf\n72 720 Td\n<$hexCodes> Tj\nET\n".getBytes("ISO-8859-1")
    val cmapZ = deflatedZeros(padding, cmap)
    val kids = (0 until pages).map(i => s"${6 + i} 0 R").mkString(" ")
    val objects = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1"),
      2 -> s"<< /Type /Pages /Kids [ $kids ] /Count $pages >>".getBytes("ISO-8859-1"),
      3 -> ("<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Subset " +
        "/Encoding /Identity-H /ToUnicode 4 0 R >>").getBytes("ISO-8859-1"),
      4 -> stream(cmapZ, " /Filter /FlateDecode"),
      5 -> stream(content, "")
    ) ++ (0 until pages).map { i =>
      (6 + i) -> ("<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        "/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>").getBytes("ISO-8859-1")
    }
    layout(objects, "")
  }

  /** A ToUnicode CMap mapping arbitrary 2-byte codes to `text`'s
    * characters, and `text` as a hex string of those codes.
    */
  private def cidFont(text: String): (Array[Byte], String) = {
    val distinct = text.distinct
    val codeOf = distinct.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val hexCodes = text.map(c => f"${codeOf(c)}%04X").mkString
    val bfchars = distinct
      .map(c => f"<${codeOf(c)}%04X> <${c.toInt}%04X>")
      .mkString("\n")
    val cmap =
      s"""/CIDInit /ProcSet findresource begin
         |12 dict begin
         |begincmap
         |1 begincodespacerange
         |<0000> <FFFF>
         |endcodespacerange
         |${distinct.length} beginbfchar
         |$bfchars
         |endbfchar
         |endcmap
         |CMapName currentdict /CMap defineresource pop
         |end
         |end""".stripMargin.getBytes("ISO-8859-1")
    (cmap, hexCodes)
  }

  /** A real JPEG payload (JFIF) of the given size, via ImageIO. */
  def realJpeg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / math.max(w, 1)) << 16) | ((y * 255 / math.max(h, 1)) << 8) | 0x30)
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Raw RGB samples (deterministic gradient), row-major, 3 bytes/px. */
  def rawRgb(w: Int, h: Int): Array[Byte] = {
    val data = new Array[Byte](w * h * 3)
    var i = 0
    for (y <- 0 until h; x <- 0 until w) {
      data(i) = (x * 255 / math.max(w, 1)).toByte
      data(i + 1) = (y * 255 / math.max(h, 1)).toByte
      data(i + 2) = 0x55
      i += 3
    }
    data
  }
}
