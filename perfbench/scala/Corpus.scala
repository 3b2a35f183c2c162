package perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.Deflater

/** Seeded corpus of real PDF files: xref table, page tree, one Helvetica
  * font, headings set by font size, and about half the files with
  * Flate-compressed content streams. Body text is drawn from a
  * Zipf-distributed vocabulary, and every valid document carries one
  * unique "needle" term. About 5% of files are hostile or invalid: an
  * `/Encrypt` trailer, a truncated compressed file, non-`%PDF` bytes, or
  * the bytes of an earlier document under a second name.
  *
  * The same seed gives the same bytes. Nothing here calls the program:
  * the expected outcome of every file is known by construction.
  */
object Corpus {

  final case class Run(text: String, size: Double)

  /** One generated file. `kind` is valid, encrypted, truncated, notpdf or
    * duplicate; `needle` is set for valid documents and their duplicates.
    */
  final case class Doc(name: String, bytes: Array[Byte], kind: String, needle: Option[String])

  /** Kinds the pipeline must reject; a truncated file keeps its first page. */
  def mustFail(kind: String): Boolean = kind == "encrypted" || kind == "notpdf"

  val Topics: Seq[String] = Seq("cardiology", "nutrition", "oncology", "pediatrics",
    "genetics", "radiology", "surgery", "vaccination")

  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  /** About 20k distinct lowercase words made of consonant-vowel syllables
    * (no digits, so no word can collide with a needle). The length of the
    * word at each rank is fixed, so every seed makes text of about the
    * same size; the seed picks the letters.
    */
  def vocabulary(rnd: java.util.SplittableRandom, size: Int = 20000): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val rank = seen.size
      val syl = 2 + rank % 3
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb.append(Consonants.charAt(rnd.nextInt(Consonants.length)))
        sb.append(Vowels.charAt(rnd.nextInt(Vowels.length)))
      }
      if (rank % 7 < 2) sb.append(Consonants.charAt(rnd.nextInt(Consonants.length)))
      seen += sb.toString
    }
    seen.toArray
  }

  /** Zipf(s = 1) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(rnd: java.util.SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The generator for one seed. Documents are numbered globally so that
    * every batch draws fresh, distinct documents.
    */
  final class Generator(seed: Long, maxPages: Int = 3) {
    private val rnd0 = new java.util.SplittableRandom(seed)
    val vocab: Array[String] = vocabulary(rnd0.split())
    val zipf = new Zipf(vocab.length)

    def words(rnd: java.util.SplittableRandom, n: Int): Seq[String] =
      Seq.fill(n)(vocab(zipf.draw(rnd)))

    def needleFor(i: Int): String = s"ndl${seed.abs % 1000}x$i"

    /** Valid document `i`: 1 + i % maxPages pages of 22 lines of 12 words,
      * a size-18 title heading and a size-14 section heading per page;
      * every other document has Flate-compressed content streams. The
      * shape depends only on `i`, so every seed makes the same amount of
      * text; the seed picks the words.
      */
    def validDoc(i: Int): Doc = {
      val rnd = new java.util.SplittableRandom(seed * 1000003L + i)
      val topic = Topics(i % Topics.length)
      val nPages = 1 + i % maxPages
      val needle = needleFor(i)
      val linesPerPage = 22
      val needlePage = rnd.nextInt(nPages)
      val needleLine = rnd.nextInt(linesPerPage)
      val pages = (0 until nPages).map { p =>
        val head =
          if (p == 0) Seq(Run(s"${topic.capitalize} report ${words(rnd, 3).mkString(" ")}", 18.0))
          else Nil
        val section = Run(s"Section ${p + 1} ${words(rnd, 2).mkString(" ")}", 14.0)
        val body = (0 until linesPerPage).map { l =>
          val ws = words(rnd, 12)
          val line =
            if (p == needlePage && l == needleLine) (ws.take(3) :+ needle) ++ ws.drop(3)
            else ws
          Run(line.mkString(" "), 11.0)
        }
        head ++ (section +: body)
      }
      val name = f"d$i%06d-$topic-${vocab(zipf.draw(rnd))}.pdf"
      Doc(name, pdf(pages, compress = i % 2 == 0), "valid", Some(needle))
    }

    /** Hostile file `i` of the given kind; `dupOf` supplies the bytes for a
      * duplicate.
      */
    def hostileDoc(i: Int, kind: String, dupOf: => Doc): Doc = {
      val rnd = new java.util.SplittableRandom(seed * 7919L + i)
      kind match {
        case "encrypted" =>
          val pages = Seq(Seq(Run(words(rnd, 10).mkString(" "), 11.0)))
          Doc(f"h$i%06d-encrypted.pdf", pdf(pages, compress = true, encrypted = true), kind, None)
        case "truncated" =>
          // an interrupted download: the file ends after its first page's
          // content stream, losing the later pages, the xref and the
          // trailer; a tolerant reader still recovers the first page
          val pages = Seq.fill(3)(Seq.fill(20)(Run(words(rnd, 12).mkString(" "), 11.0)))
          val full = pdf(pages, compress = true)
          val end = "endstream\nendobj\n".getBytes("ISO-8859-1")
          val cut = indexOf(full, end) + end.length
          Doc(f"h$i%06d-truncated.pdf", java.util.Arrays.copyOf(full, cut), kind, None)
        case "notpdf" =>
          val b = new Array[Byte](2048 + rnd.nextInt(2048))
          rnd.nextBytes(b)
          b(0) = 'P'.toByte; b(1) = 'K'.toByte; b(2) = 3; b(3) = 4
          Doc(f"h$i%06d-notpdf.pdf", b, kind, None)
        case "duplicate" =>
          val d = dupOf
          Doc(f"h$i%06d-copy-${d.name}", d.bytes, kind, d.needle)
      }
    }
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(math.max(64, data.length / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def esc(s: String): String =
    s.flatMap {
      case '(' => "\\("
      case ')' => "\\)"
      case '\\' => "\\\\"
      case c => c.toString
    }

  private def fmt(d: Double): String =
    if (d == math.rint(d)) d.toLong.toString else d.toString

  /** A complete PDF: catalog, page tree, one font, one content stream per
    * page, an xref table and a trailer (with `/Encrypt` if asked).
    */
  def pdf(pages: Seq[Seq[Run]], compress: Boolean, encrypted: Boolean = false): Array[Byte] = {
    val n = pages.length
    val pageObj = (i: Int) => 4 + 2 * i
    val contObj = (i: Int) => 5 + 2 * i
    val encObj = 4 + 2 * n
    val objects = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    def latin(s: String) = s.getBytes("ISO-8859-1")
    val kids = (0 until n).map(i => s"${pageObj(i)} 0 R").mkString(" ")
    objects += 1 -> latin("<< /Type /Catalog /Pages 2 0 R >>")
    objects += 2 -> latin(s"<< /Type /Pages /Kids [ $kids ] /Count $n >>")
    objects += 3 -> latin("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    pages.zipWithIndex.foreach { case (runs, i) =>
      val sb = new StringBuilder("BT\n/F1 11 Tf\n72 740 Td\n")
      var last = 11.0
      runs.zipWithIndex.foreach { case (r, ri) =>
        if (ri > 0) sb.append("0 -16 Td\n")
        if (r.size != last) { sb.append(s"/F1 ${fmt(r.size)} Tf\n"); last = r.size }
        sb.append(s"(${esc(r.text)}) Tj\n")
      }
      sb.append("ET\n")
      val content = latin(sb.toString)
      val payload = if (compress) deflate(content) else content
      val filter = if (compress) " /Filter /FlateDecode" else ""
      objects += pageObj(i) -> latin(s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${contObj(i)} 0 R >>")
      objects += contObj(i) ->
        (latin(s"<< /Length ${payload.length}$filter >>\nstream\n") ++ payload ++ latin("\nendstream"))
    }
    if (encrypted)
      objects += encObj -> latin("<< /Filter /Standard /V 1 /R 2 /O <28bf4e5e4e758a41> " +
        "/U <28bf4e5e4e758a41> /P -44 >>")
    val out = new ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(latin(s))
    ascii("%PDF-1.4\n%âãÏÓ\n")
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    objects.sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size()
      ascii(s"$num 0 obj\n"); out.write(body); ascii("\nendobj\n")
    }
    val xrefPos = out.size()
    val maxObj = objects.map(_._1).max
    ascii(s"xref\n0 ${maxObj + 1}\n0000000000 65535 f \n")
    (1 to maxObj).foreach { num =>
      offsets.get(num) match {
        case Some(off) => ascii(f"$off%010d 00000 n \n")
        case None => ascii("0000000000 65535 f \n")
      }
    }
    val enc = if (encrypted) s" /Encrypt $encObj 0 R" else ""
    ascii(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R$enc >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** Expected `documents` rows by status after ingesting a set of files:
    * one row per distinct byte content. Valid, truncated (first page
    * recoverable) and duplicate files complete; encrypted and non-PDF
    * files fail.
    */
  def expectedStatus(files: Seq[Doc]): Map[String, Long] =
    distinctContent(files)
      .groupBy(d => if (mustFail(d.kind)) "failed" else "completed")
      .map { case (k, v) => k -> v.size.toLong }

  /** One file per distinct byte content (the pipeline keys documents by a
    * content hash).
    */
  def distinctContent(files: Seq[Doc]): Seq[Doc] = {
    def digest(b: Array[Byte]) =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    files.groupBy(d => digest(d.bytes)).values.map(_.head).toSeq
  }

  def write(dir: Path, files: Seq[Doc]): Long = {
    Files.createDirectories(dir)
    files.map { d => Files.write(dir.resolve(d.name), d.bytes); d.bytes.length.toLong }.sum
  }
}
