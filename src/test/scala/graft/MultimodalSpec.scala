package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal}
import graft.sources.ImageExtraction

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10) ++ Array.fill[Byte](100)(7)
  private val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte) ++ Array.fill[Byte](80)(3)

  /** A REAL PNG encoded in-memory: w x h with a deterministic gradient. */
  private def realPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) | 0x40)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("ImageIoCodec decodes REAL dims from a real PNG and resizes for real") {
    val bytes = realPng(120, 80)
    assert(Multimodal.ImageIoCodec.imageDims(bytes) == (120, 80))

    // resize produces a decodable PNG with the requested dims
    val resized = Multimodal.ImageIoCodec.resize(bytes, 40, 30)
    assert(Multimodal.ImageIoCodec.imageDims(resized) == (40, 30))

    // junk bytes are a hard error, not silent garbage
    intercept[IllegalArgumentException](Multimodal.ImageIoCodec.imageDims(Array[Byte](1, 2, 3)))
  }

  test("ImageIoCodec.imageDims reports true decoded dimensions") {
    assert(Multimodal.ImageIoCodec.imageDims(realPng(150, 101)) == (150, 101))
    assert(Multimodal.ImageIoCodec.imageDims(realPng(30, 30)) == (30, 30))
  }

  test("extractImages(decodeDims = true) filters icons by REAL decoded size") {
    // extractor that lies about dims: claims 500x500 for a real 50x50 icon
    // and 10x10 for a real 200x150 image — decode must correct both
    val icon = realPng(50, 50)
    val big = realPng(200, 150)
    val lyingExtractor = new ImageExtraction.ImageExtractor {
      override def extract(path: String, content: Array[Byte]): Seq[ImageExtraction.RawImage] =
        Seq(
          ImageExtraction.RawImage(1, 0, "png", 500, 500, icon),
          ImageExtraction.RawImage(1, 1, "png", 10, 10, big)
        )
    }
    val docs = Seq(("docR", "/x/r.pdf", "payload".getBytes)).toDF("id", "path", "content")
    val rows = ImageExtraction
      .extractImages(docs, minPx = 100, extractor = lyingExtractor, decodeDims = true)
      .collect()
    assert(rows.length == 1, "only the truly >=100px image survives")
    assert(rows.head.getAs[Int]("width") == 200 && rows.head.getAs[Int]("height") == 150)
  }

  test("image extraction: fan-out, icon filter, path scheme, stable ids") {
    val docs = Seq(
      ("doc1", "/x/a.pdf", "unique content alpha for images".getBytes),
      ("doc2", "/x/b.pdf", "different content beta with other hash".getBytes),
      ("doc3", "/x/c.pdf", "third document gamma payload".getBytes)
    ).toDF("id", "path", "content")
    val images = ImageExtraction.extractImages(docs, minPx = 100)
    val rows = images.collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("width") >= 100 && r.getAs[Int]("height") >= 100)
      assert(r.getAs[String]("file_path").matches("doc\\d/\\d{3}_img_\\d{3}\\.(png|jpeg)"))
    }
    // unfiltered variant yields at least as many rows
    assert(ImageExtraction.extractImages(docs, minPx = 0).count() >= rows.length)
  }

  test("dHash: deterministic, perceptually local, loud on tiny images") {
    val base = realPng(120, 80)
    // determinism on identical bytes
    assert(Multimodal.ImageIoCodec.dHash(base) == Multimodal.ImageIoCodec.dHash(base))

    // small local perturbation: black out one ~13x10 patch — a
    // near-duplicate (re-encode, tiny crop-level change) stays close
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    for (y <- 35 until 45; x <- 53 until 66) img.setRGB(x, y, 0)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val near = out.toByteArray
    val dNear = java.lang.Long.bitCount(
      Multimodal.ImageIoCodec.dHash(base) ^ Multimodal.ImageIoCodec.dHash(near))
    assert(dNear <= 6, s"one-patch perturbation moved $dNear bits — dHash is not local")

    // structurally different image (checkerboard vs gradient) is far
    val cb = new java.awt.image.BufferedImage(120, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 80; x <- 0 until 120)
      cb.setRGB(x, y, if (((x / 13) + (y / 10)) % 2 == 0) 0xffffff else 0x000000)
    val out2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(cb, "png", out2)
    val dFar = java.lang.Long.bitCount(
      Multimodal.ImageIoCodec.dHash(base) ^ Multimodal.ImageIoCodec.dHash(out2.toByteArray))
    assert(dFar > 15, s"checkerboard vs gradient only $dFar bits apart")

    // smaller than the 9x8 grid: loud, not degenerate
    intercept[IllegalArgumentException](Multimodal.ImageIoCodec.dHash(realPng(8, 8)))
  }

  /** Image near-dup pairs the way the Pipeline's image dedup forms them:
    * dHash signatures banded by the shared Hamming pair generator.
    */
  private def dHashPairs(df: org.apache.spark.sql.DataFrame, maxHamming: Int,
      codec: Multimodal.MediaCodec): Set[(Long, Long)] =
    Dedup.hammingPairsFromSigs(
      Multimodal.withImageDHash(df, "content", "dhash", codec).where(col("dhash").isNotNull),
      "id", "dhash", maxHamming)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dHash pairs find the perturbed twin and not the stranger") {
    val base = realPng(120, 80)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    for (y <- 35 until 45; x <- 53 until 66) img.setRGB(x, y, 0)
    val o1 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", o1)
    val cb = new java.awt.image.BufferedImage(120, 80, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 80; x <- 0 until 120)
      cb.setRGB(x, y, if (((x / 13) + (y / 10)) % 2 == 0) 0xffffff else 0x000000)
    val o2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(cb, "png", o2)

    val df = Seq((1L, base), (2L, o1.toByteArray), (3L, o2.toByteArray))
      .toDF("id", "content")
    val pairs = dHashPairs(df, maxHamming = 6, codec = Multimodal.ImageIoCodec)
    assert(pairs == Set((1L, 2L)), s"expected exactly the perturbed twin pair, got $pairs")
  }

  test("StubCodec dHash pairs detect exact duplicates without a decoder") {
    val p1 = png ++ Array[Byte](1, 2, 3)
    val df = Seq((1L, p1), (2L, p1.clone()), (3L, jpg)).toDF("id", "content")
    assert(dHashPairs(df, maxHamming = 0, codec = Multimodal.StubCodec) == Set((1L, 2L)))
  }

  test("image file sink writes payloads and returns metadata-only rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-img").toString
    val docs = Seq(("docA", "/x/a.pdf", "image-bearing document payload content here".getBytes))
      .toDF("id", "path", "content")
    val images = ImageExtraction.extractImages(docs, minPx = 0)
    val meta = ImageExtraction.writeImageFiles(images, dir)
    assert(!meta.columns.contains("bytes"))
    val n = meta.count()
    val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(written == n)
  }
}
