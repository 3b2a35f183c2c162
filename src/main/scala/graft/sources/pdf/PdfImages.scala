package graft.sources.pdf

import PdfParser._

/** Embedded-image enumeration — the pure-JVM replacement for the
  * reference's `page.get_images(full=True)` + `doc.extract_image(xref)`
  * (reference: src/extract/image_extractor.py:110-155).
  *
  * Per page: walk `/Resources /XObject`, keep streams with
  * `/Subtype /Image`, and materialize:
  *   - DCTDecode → the raw stream IS a JPEG file → ext "jpeg"
  *   - FlateDecode DeviceRGB/DeviceGray 8-bit → inflate to samples and
  *     re-encode as PNG via `javax.imageio` → ext "png"
  *   - anything else (CCITT, JBIG2, exotic color spaces) → raw bytes with
  *     ext "bin" and the dict-declared dimensions (the reference's
  *     extract_image returns the undecoded payload similarly)
  *
  * Dimensions come from the image dict (/Width, /Height); callers that
  * want decode-verified dims re-read the produced payload (the pipeline's
  * `decodeDims` option does exactly that with ImageIO, as the reference
  * re-opens with PIL at image_extractor.py:125-127).
  */
object PdfImages {

  /** One embedded image: 1-indexed page, 0-indexed per-page position. */
  final case class Embedded(
      pageNumber: Int,
      imageIndex: Int,
      format: String,
      width: Int,
      height: Int,
      bytes: Array[Byte]
  )

  def enumerate(pdf: Pdf): Seq[Embedded] = {
    val out = Seq.newBuilder[Embedded]
    pdf.pages.zipWithIndex.foreach { case (page, pi) =>
      val xobjects: Seq[(String, PStream)] = (for {
        res <- pdf.get(page, "Resources").flatMap(pdf.dictOf)
        xo  <- pdf.get(res, "XObject").flatMap(pdf.dictOf)
      } yield xo.m.toSeq.sortBy(_._1).flatMap { case (name, ref) =>
        pdf.resolve(ref) match {
          case s: PStream => Some(name -> s)
          case _          => None
        }
      }).getOrElse(Seq.empty)

      var idx = 0
      xobjects.foreach { case (_, s) =>
        if (pdf.name(s.dict, "Subtype").contains("Image")) {
          try {
            out += materialize(pdf, s, pi + 1, idx)
            idx += 1
          } catch {
            case e: DecodeBudgetException => throw e
            case _: Exception => idx += 1 // skip undecodable, keep index stable
          }
        }
      }
    }
    out.result()
  }

  private def materialize(pdf: Pdf, s: PStream, page: Int, idx: Int): Embedded = {
    val w = pdf.int(s.dict, "Width").getOrElse(0)
    val h = pdf.int(s.dict, "Height").getOrElse(0)
    val filters = pdf.filtersOf(s.dict)
    if (filters.contains("DCTDecode") || filters.contains("DCT"))
      Embedded(page, idx, "jpeg", w, h, s.raw)
    else if (filters.contains("JPXDecode"))
      Embedded(page, idx, "jp2", w, h, s.raw)
    else {
      // decoded samples → PNG when we understand the layout
      val data = pdf.decodedStream(s)
      val bpc = pdf.int(s.dict, "BitsPerComponent").getOrElse(8)
      val png = toPng(pdf, s.dict, data, w, h, bpc)
      png match {
        case Some(bytes) => Embedded(page, idx, "png", w, h, bytes)
        case None        => Embedded(page, idx, "bin", w, h, data)
      }
    }
  }

  /** (colorSpaceName, palette) — palette is the RGB lookup for /Indexed. */
  private def colorSpace(pdf: Pdf, d: PDict): (String, Option[Array[Byte]]) =
    pdf.get(d, "ColorSpace") match {
      case Some(PName(n)) => (n, None)
      case Some(PArr(a)) if a.nonEmpty =>
        pdf.resolve(a.head) match {
          case PName("Indexed") if a.length >= 4 =>
            val base = pdf.resolve(a(1)) match { case PName(b) => b; case _ => "" }
            val lookup = pdf.resolve(a(3)) match {
              case PString(b)   => Some(b)
              case st: PStream  => Some(pdf.decodedStream(st))
              case _            => None
            }
            // only RGB-base palettes are materialized (the common case)
            if (base == "DeviceRGB") ("Indexed", lookup) else ("", None)
          case PName(n) => (n, None)
          case _        => ("", None)
        }
      case _ => ("", None)
    }

  /** Raw samples → PNG via ImageIO for the layouts we can name:
    * 8-bit DeviceRGB/DeviceGray, 1-bit DeviceGray (scan masks), and
    * 8-bit /Indexed with a DeviceRGB palette.
    */
  private def toPng(pdf: Pdf, dict: PDict, data: Array[Byte], w: Int, h: Int, bpc: Int): Option[Array[Byte]] = {
    if (w <= 0 || h <= 0) return None
    import java.awt.image.BufferedImage
    val (cs, palette) = colorSpace(pdf, dict)
    val img = (cs, bpc) match {
      case ("DeviceRGB", 8) if data.length >= w * h * 3 =>
        val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = (y * w + x) * 3
            val rgb = ((data(p) & 0xff) << 16) | ((data(p + 1) & 0xff) << 8) | (data(p + 2) & 0xff)
            im.setRGB(x, y, rgb)
            x += 1
          }
          y += 1
        }
        Some(im)
      case ("DeviceGray", 8) if data.length >= w * h =>
        val im = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        im.getRaster.setDataElements(0, 0, w, h, java.util.Arrays.copyOf(data, w * h))
        Some(im)
      case ("DeviceGray", 1) if data.length >= ((w + 7) / 8) * h =>
        // bit-packed rows, MSB first, 1 = white
        val rowLen = (w + 7) / 8
        val im = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bit = (data(y * rowLen + (x >> 3)) >> (7 - (x & 7))) & 1
            im.getRaster.setSample(x, y, 0, if (bit == 1) 255 else 0)
            x += 1
          }
          y += 1
        }
        Some(im)
      case ("Indexed", 8) if palette.isDefined && data.length >= w * h =>
        val lut = palette.get
        val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val ix = (data(y * w + x) & 0xff) * 3
            val rgb =
              if (ix + 2 < lut.length)
                ((lut(ix) & 0xff) << 16) | ((lut(ix + 1) & 0xff) << 8) | (lut(ix + 2) & 0xff)
              else 0
            im.setRGB(x, y, rgb)
            x += 1
          }
          y += 1
        }
        Some(im)
      case _ => None
    }
    img.map { im =>
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
  }
}
