package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: image/video payloads
  * as opaque `binary` columns, plus the perceptual-hash operator over
  * them.
  *
  * Codecs plug into the [[MediaCodec]] seam: [[ImageIoCodec]] REALLY
  * decodes PNG/JPEG/GIF/BMP via the JDK's javax.imageio (dims, resize,
  * dHash); [[StubCodec]] remains for video payloads and synthetic
  * fixtures (no ffmpeg in this build) — deterministic from payload bytes
  * so tests are exact, and clearly marked.
  *
  * Scale notes: media payloads dominate row size, so operators never
  * shuffle payloads — all transforms are narrow. Use
  * `spark.sql.files.maxPartitionBytes` to keep scan partitions bounded
  * when rows are multi-MB.
  */
object Multimodal {

  /** Codec seam. STUB implementations are deterministic in payload bytes. */
  trait MediaCodec extends Serializable {
    def imageDims(bytes: Array[Byte]): (Int, Int)
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]

    /** 64-bit perceptual difference hash (dHash): 9×8 grayscale grid,
      * bit (row·8 + x) set iff cell (x+1, row) is brighter than cell
      * (x, row). Nearby images differ in few bits, so Hamming distance
      * is a visual-similarity metric — the image-dedup signature
      * ([[Dedup.hammingPairsFromSigs]] bands it).
      */
    def dHash(bytes: Array[Byte]): Long
  }

  /** STUB codec — no media libraries in this build. Dimensions are derived
    * deterministically from a payload hash; resize re-hashes. Replace with
    * a real codec for production use (the operators are codec-agnostic).
    */
  object StubCodec extends MediaCodec {
    private def h64(bytes: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
      h
    }
    override def imageDims(bytes: Array[Byte]): (Int, Int) = {
      val h = h64(bytes)
      (64 + java.lang.Math.floorMod(h, 960L).toInt, 64 + java.lang.Math.floorMod(h >>> 17, 960L).toInt)
    }
    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      // ??? real implementation decodes + rescales; stub emits a
      // deterministic (w*h/64)-byte payload derived from the source hash
      val out = new Array[Byte](math.max(16, w * h / 64))
      var seed = h64(bytes) ^ (w.toLong << 32) ^ h.toLong
      var i = 0
      while (i < out.length) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        out(i) = (seed >>> 56).toByte
        i += 1
      }
      out
    }

    /** Stub dHash = the payload hash: identical bytes hash identically
      * (exact-dup plumbing testable without a decoder) but there is NO
      * perceptual proximity — near-dup recall needs [[ImageIoCodec]].
      */
    override def dHash(bytes: Array[Byte]): Long = h64(bytes)
  }

  /** REAL codec on the JDK's javax.imageio — no external dependency.
    * Decodes actual PNG/JPEG/GIF/BMP bytes (reference decodes with PIL for
    * exactly this metadata, src/extract/image_extractor.py:125-136):
    *
    *   - `imageDims` reads only the header via an ImageReader (no full
    *     raster decode — cheap even for multi-MB payloads)
    *   - `resize` is a real bilinear rescale, re-encoded as PNG
    *   - `dHash` is a real perceptual hash over the decoded raster
    *
    * Throws IllegalArgumentException on undecodable payloads — callers
    * that must tolerate junk bytes keep using [[StubCodec]] or filter
    * first.
    */
  object ImageIoCodec extends MediaCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    override def imageDims(bytes: Array[Byte]): (Int, Int) = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext)
          throw new IllegalArgumentException("imageDims: undecodable image payload")
        val r = readers.next()
        try {
          r.setInput(iis)
          (r.getWidth(0), r.getHeight(0))
        } finally r.dispose()
      } finally iis.close()
    }

    private def decode(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null)
        throw new IllegalArgumentException("decode: undecodable image payload")
      img
    }

    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val src = decode(bytes)
      val dst = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR
        )
        g.drawImage(src, 0, 0, w, h, null)
      } finally g.dispose()
      val out = new ByteArrayOutputStream()
      ImageIO.write(dst, "png", out)
      out.toByteArray
    }

    /** Real dHash over the decoded raster, ALL-INTEGER so two JVMs (or
      * two partitionings of the same corpus) can never disagree: per-cell
      * luminance is an exact long sum of 299·R + 587·G + 114·B over a
      * 9×8 box grid, and the brighter-than comparison cross-multiplies
      * the (sum, count) pairs — avg_a > avg_b ⟺ sum_a·cnt_b >
      * sum_b·cnt_a — instead of dividing. Images narrower than the grid
      * fail loudly (an empty cell would make bits degenerate-zero and
      * silently alias unrelated tiny images); filter on
      * [[imageDims]] first.
      */
    override def dHash(bytes: Array[Byte]): Long = {
      val img = decode(bytes)
      val (w, h) = (img.getWidth, img.getHeight)
      val (cols, rows) = (9, 8)
      require(w >= cols && h >= rows,
        s"dHash: image ${w}x$h smaller than the ${cols}x$rows grid — filter tiny images first")
      // the cross-multiplied comparison is sum*cnt <= 255000*cnt², and a
      // per-cell cnt ~ w*h/72 past ~0.2 gigapixel would overflow Long and
      // silently flip bits — fail loudly instead (downscale first)
      require(w.toLong * h <= 200000000L,
        s"dHash: image ${w}x$h exceeds the 0.2-gigapixel exact-arithmetic bound — resize first")
      val sums = Array.ofDim[Long](rows, cols)
      val cnts = Array.ofDim[Long](rows, cols)
      var y = 0
      while (y < h) {
        val cy = math.min(rows - 1, (y.toLong * rows / h).toInt)
        var x = 0
        while (x < w) {
          val cx = math.min(cols - 1, (x.toLong * cols / w).toInt)
          val rgb = img.getRGB(x, y)
          sums(cy)(cx) += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          cnts(cy)(cx) += 1
          x += 1
        }
        y += 1
      }
      var sig = 0L
      var ry = 0
      while (ry < rows) {
        var rx = 0
        while (rx < cols - 1) {
          if (sums(ry)(rx + 1) * cnts(ry)(rx) > sums(ry)(rx) * cnts(ry)(rx + 1))
            sig |= 1L << (ry * (cols - 1) + rx)
          rx += 1
        }
        ry += 1
      }
      sig
    }
  }

  /** [[ImageIoCodec]] with a byte-hash fallback signature for payloads
    * ImageIO cannot decode (or tiny/oversized rasters outside dHash's
    * exact-arithmetic bounds): the ingest-dedup codec. Decodable images
    * get the real perceptual dHash (near-dup across re-encodes);
    * undecodable payloads degrade to the content-hash signature — still
    * deduping EXACT byte duplicates, never crashing a 100 TB ingest on
    * one exotic format. A random byte-hash landing within the Hamming
    * radius of a real dHash needs ~C(64,6)/2^64 ≈ 4e-12 luck per
    * candidate pair — negligible even at corpus scale.
    */
  object FallbackDHashCodec extends MediaCodec {
    override def imageDims(bytes: Array[Byte]): (Int, Int) = ImageIoCodec.imageDims(bytes)
    override def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      ImageIoCodec.resize(bytes, w, h)
    override def dHash(bytes: Array[Byte]): Long =
      // NonFatal, not just IllegalArgumentException: ImageIO.read throws
      // IIOException (an IOException) on corrupt-but-recognized payloads
      // (truncated JPEG, unsupported CMYK) — those must degrade too, or
      // one bad image aborts the ingest batch
      try ImageIoCodec.dHash(bytes)
      catch { case scala.util.control.NonFatal(_) => StubCodec.dHash(bytes) }
  }

  /** Perceptual-hash column (`dhash`, 64-bit long) — narrow,
    * partition-preserving; null payloads stay null. The decode runs
    * exactly once per image at the scan, so only the 8-byte signature
    * (never pixels) participates in any downstream join or shuffle.
    */
  def withImageDHash(df: DataFrame, contentCol: String = "content",
      outCol: String = "dhash", codec: MediaCodec = StubCodec): DataFrame = {
    val f = udf { (bytes: Array[Byte]) => Option(bytes).map(codec.dHash) }
    df.withColumn(outCol, f(col(contentCol)))
  }
}
