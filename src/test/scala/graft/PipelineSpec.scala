package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.{Pipeline, Retriever, SearchMode}
import graft.sources.MarkdownSource

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def mkPdf(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), s"%PDF-1.4\n$body".getBytes("UTF-8"))

  private def freshDirs(): (String, String, String) = {
    val base = Files.createTempDirectory("graft-e2e").toString
    val pdf = s"$base/pdfs"; val wh = s"$base/warehouse"; val md = s"$base/markdown"
    Files.createDirectories(Paths.get(pdf))
    (pdf, wh, md)
  }

  test("end-to-end: ingest -> search all modes -> context -> delete -> incremental") {
    val (pdfDir, wh, mdDir) = freshDirs()
    mkPdf(pdfDir, "EP001 Spark Guide.pdf",
      "# Spark Guide\n\nspark processes distributed data with resilient datasets. " +
        "spark sql runs queries through the catalyst optimizer.\n\n## Tuning\n\n" +
        "partition tuning and broadcast joins make spark queries fast.")
    mkPdf(pdfDir, "EP002 Cooking.pdf",
      "# Cooking\n\npasta with tomato sauce and fresh basil is a classic dish. " +
        "slow cooking brings out flavor in vegetables and herbs.")
    Files.write(Paths.get(pdfDir, "notes.txt"), "not a pdf".getBytes) // glob-excluded

    val cfg = GraftConfig(warehouseDir = wh)
    val pipe = new Pipeline(spark, cfg)
    val imgDir = s"${Paths.get(pdfDir).getParent}/images"
    val n = pipe.processDirectory(pdfDir, markdownDir = Some(mdDir), imagesDir = Some(imgDir))
    assert(n == 2)

    // images table + S9 listing (stub extractor: count is deterministic)
    if (pipe.catalog.exists("images")) {
      val imgs = pipe.catalog.read("images")
      assert(imgs.count() >= 0)
      imgs.select("document_id").distinct().collect().foreach { r =>
        assert(pipe.listImages(r.getString(0)).count() > 0)
      }
    }

    val docs = pipe.catalog.read("documents")
    assert(docs.count() == 2)
    assert(docs.where(col("status") === "completed").count() == 2)
    assert(docs.where(col("title") === "Spark Guide").count() == 1, "EP-prefix stripped")

    val chunks = pipe.catalog.read("chunks")
    assert(chunks.count() >= 2)
    assert(chunks.where(col("embedding").isNull).count() == 0)
    assert(chunks.where(col("section_h1").isNotNull).count() > 0)

    // markdown checkpoints written and re-parseable (S3/S4 round trip)
    val mds = MarkdownSource.read(spark, mdDir)
    assert(mds.count() == 2)
    assert(mds.where(col("title") === "Spark Guide").count() == 1)
    assert(mds.where(col("content").contains("catalyst")).count() == 1)

    // retrieval: all three modes surface the spark doc for a spark query
    val ret = new Retriever(spark, pipe, cfg)
    for (mode <- Seq(SearchMode.Vector, SearchMode.Keyword, SearchMode.Hybrid)) {
      val top = ret.search("spark catalyst optimizer queries", mode, 3).collect()
      assert(top.nonEmpty, s"$mode returned nothing")
      assert(top.head.getAs[String]("document_title") == "Spark Guide", s"$mode top hit wrong")
    }

    // title filter restricts results
    val filtered = ret.search("spark catalyst", SearchMode.Vector, 5, titleFilter = Some("cooking"))
    assert(filtered.collect().forall(_.getAs[String]("document_title") == "Cooking"))

    // context assembly shape
    val ctx = ret.getContext("spark tuning", maxTokens = 200)
    assert(ctx.startsWith("Documents referenced:"))
    assert(ctx.contains("[Source: Spark Guide]"))

    // topic routing (X5/Q5): first known topic in the query drives the
    // title filter; no topic -> no filter
    assert(ret.extractTopic("advice on nutrition during pregnancy").contains("pregnancy"))
    assert(ret.extractTopic("NUTRITION basics").contains("nutrition"))
    assert(ret.extractTopic("spark shuffle tuning").isEmpty)

    // stats
    val st = pipe.stats().collect()
    assert(st.exists(r => r.getAs[String]("status") == "completed" && r.getAs[Long]("n") == 2))

    // incremental: nothing new -> 0 ingested, tables unchanged
    assert(pipe.processDirectory(pdfDir) == 0)
    assert(pipe.catalog.read("documents").count() == 2)

    // add a file -> only it is processed
    mkPdf(pdfDir, "EP003 Gardening.pdf", "# Gardening\n\nroses need pruning in early spring.")
    assert(pipe.processDirectory(pdfDir) == 1)
    assert(pipe.catalog.read("documents").count() == 3)

    // typed Dataset[Chunk] view (SURVEY §1.3 typed core API)
    val typedChunks = pipe.chunksDS.collect()
    assert(typedChunks.nonEmpty)
    assert(typedChunks.forall(c => c.embedding.isDefined && c.total_chunks > 0))

    // listings (F5/Q7/O1) — re-read: table dirs swap on upsert, so
    // DataFrames captured before a processDirectory call are stale
    assert(pipe.listDocuments(Some("completed")).count() == 3)
    assert(pipe.listDocuments(Some("failed")).count() == 0)
    val anyDoc = pipe.catalog.read("documents").head().getAs[String]("id")
    val chunkList = pipe.listChunks(anyDoc).select("chunk_index").collect().map(_.getInt(0)).toSeq
    assert(chunkList == chunkList.sorted)

    // reprocess from markdown checkpoints: re-chunks WITHOUT the pdfs
    val chunksBefore = pipe.catalog.read("chunks").count()
    assert(pipe.reprocessFromMarkdown(mdDir) == 2)
    val chunksAfter = pipe.catalog.read("chunks")
    assert(chunksAfter.select("document_id").distinct().count() == 3)
    assert(chunksAfter.where(col("embedding").isNull).count() == 0)
    assert(chunksAfter.count() == chunksBefore, "same config -> same chunking")
    // ledger total_chunks stays consistent with the chunks table
    val ledgerSum = pipe.catalog.read("documents")
      .agg(sum("total_chunks")).head().getLong(0)
    assert(ledgerSum == chunksAfter.count())

    // point lookups
    val someId = pipe.catalog.read("documents").head().getAs[String]("id")
    assert(pipe.getDocument(someId).isDefined)
    assert(pipe.getDocument("nope").isEmpty)

    // cascade delete
    val sparkDocId = pipe.catalog.read("documents")
      .where(col("title") === "Spark Guide").head().getAs[String]("id")
    pipe.deleteDocument(sparkDocId)
    assert(pipe.catalog.read("documents").count() == 2)
    assert(pipe.catalog.read("chunks").where(col("document_id") === sparkDocId).count() == 0)
  }

  test("oversized and corrupted files are failed, not ingested") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "ok.pdf", "# Fine\n\nperfectly reasonable text content for a document here.")
    Files.write(Paths.get(pdfDir, "bad.pdf"), Array.fill[Byte](64)(0x01)) // no %PDF magic

    val cfg = GraftConfig(warehouseDir = wh)
    val pipe = new Pipeline(spark, cfg)
    assert(pipe.processDirectory(pdfDir) == 1)
    assert(pipe.catalog.read("documents").where(col("status") === "failed").count() == 1)
    assert(pipe.catalog.read("documents").where(col("status") === "completed").count() == 1)
    // failed doc re-admitted on next run (and fails again): upsert, not a
    // duplicate failed row
    assert(pipe.processDirectory(pdfDir) == 0)
    assert(pipe.catalog.read("documents").count() == 2)
    assert(pipe.catalog.read("documents").where(col("status") === "failed").count() == 1)
  }

  test("REAL PDF ingest end-to-end: structured parse, true page count, chunks searchable") {
    import graft.pdf.PdfGen
    import graft.pdf.PdfGen.{Img, Run}
    val (pdfDir, wh, mdDir) = freshDirs()
    val real = PdfGen.pdf(
      Seq(
        Seq(Run("Prenatal Vitamins", 24.0),
          Run("Folic acid supplementation reduces neural tube defect risk."),
          Run("Iron supports increased maternal blood volume in pregnancy.")),
        Seq(Run("Dietary Sources", 24.0),
          Run("Leafy greens and fortified cereals provide dietary folate."))
      ),
      compress = true,
      images = Seq(
        Img(page = 0, width = 200, height = 150, bytes = PdfGen.realJpeg(200, 150), jpeg = true),
        Img(page = 0, width = 40, height = 40, bytes = PdfGen.realJpeg(40, 40), jpeg = true) // icon
      )
    )
    Files.write(Paths.get(pdfDir, "EP003 Prenatal Vitamins.pdf"), real)
    val locked = PdfGen.pdf(Seq(Seq(Run("secret"))), encrypted = true)
    Files.write(Paths.get(pdfDir, "locked.pdf"), locked)

    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    val imgDir = s"${Paths.get(pdfDir).getParent}/images"
    assert(pipe.processDirectory(pdfDir, markdownDir = Some(mdDir), imagesDir = Some(imgDir)) == 1)

    val docs = pipe.catalog.read("documents").collect().map(r =>
      r.getAs[String]("source_path") -> r).toMap
    val ok = docs.keys.find(_.contains("EP003")).map(docs).get
    assert(ok.getAs[String]("status") == "completed")
    assert(ok.getAs[Int]("page_count") == 2, "page count must come from the real page tree")
    assert(ok.getAs[String]("title") == "Prenatal Vitamins")

    // the encrypted doc failed with the password_protected verdict
    val bad = docs.keys.find(_.contains("locked")).map(docs).get
    assert(bad.getAs[String]("status") == "failed")
    assert(bad.getAs[String]("error_message").contains("password_protected"))

    // REAL extracted text reached the chunk store and is findable
    val chunks = pipe.catalog.read("chunks")
    assert(chunks.where(col("text").contains("neural tube defect")).count() >= 1,
      "real PDF text must reach chunks")
    // header promotion drove sectioning: the size-24 line became a heading
    assert(chunks.where(col("section_h1") === "Prenatal Vitamins").count() >= 1)

    // REAL embedded image extracted: the 200x150 JPEG kept, the 40px icon filtered
    val imgs = pipe.catalog.read("images")
    assert(imgs.count() == 1)
    val im = imgs.head()
    assert(im.getAs[Int]("width") == 200 && im.getAs[Int]("height") == 150)
    assert(im.getAs[String]("file_format") == "jpeg")
    // payload written to the file sink is a real decodable JPEG
    val payload = Files.readAllBytes(Paths.get(imgDir, im.getAs[String]("file_path")))
    assert(graft.operators.Multimodal.ImageIoCodec.imageDims(payload) == (200, 150))
  }

  test("opt-in image dedup: a re-encoded duplicate image is dropped at ingest") {
    import graft.pdf.PdfGen
    import graft.pdf.PdfGen.{Img, Run}
    val (pdfDir, wh, _) = freshDirs()
    // one raster, two encodings: PdfGen.realJpeg and PdfGen.rawRgb draw
    // the SAME x/y gradient (blue offset differs by a constant, which
    // dHash's adjacent-cell comparison cancels) — a genuine re-encoded
    // near-duplicate pair (DCTDecode JPEG vs FlateDecode->PNG). The third
    // image reverses the gradient: visually distinct, hamming ~64.
    val w = 160; val h = 120
    val reversed = {
      val d = new Array[Byte](w * h * 3)
      var i = 0
      for (y <- 0 until h; x <- 0 until w) {
        d(i) = (255 - x * 255 / w).toByte; d(i + 1) = (y * 255 / h).toByte; d(i + 2) = 0x55
        i += 3
      }
      d
    }
    val pdf = PdfGen.pdf(
      Seq(Seq(Run("Image Dedup Fixture", 24.0),
        Run("Body text long enough to pass validation thresholds for sure."),
        Run("More words about gradients, rasters, and figure encodings."))),
      images = Seq(
        Img(page = 0, width = w, height = h, bytes = PdfGen.realJpeg(w, h), jpeg = true),
        Img(page = 0, width = w, height = h, bytes = PdfGen.rawRgb(w, h), jpeg = false),
        Img(page = 0, width = w, height = h, bytes = reversed, jpeg = false)
      )
    )
    Files.write(Paths.get(pdfDir, "figures.pdf"), pdf)
    val imgDir = s"${Paths.get(pdfDir).getParent}/images-dedup"
    val pipe = new Pipeline(spark,
      GraftConfig(warehouseDir = wh, imageDedup = graft.ImageDedupConfig(enabled = true)))
    assert(pipe.processDirectory(pdfDir, imagesDir = Some(imgDir)) == 1)

    // keep-one-per-cluster: the JPEG/PNG re-encode pair collapsed to one
    // stored image; the reversed-gradient image survived
    val imgs = pipe.catalog.read("images")
    assert(imgs.count() == 2, s"expected 2 surviving images, got ${imgs.count()}")
    // survivors' 8-byte signatures land in the dedicated probe table
    assert(pipe.catalog.read("image_signatures").count() == 2)
    // the full labeling is auditable: 3 members, 2 clusters, 2 canonical
    val labels = pipe.catalog.read("image_clusters").collect()
    assert(labels.length == 3)
    assert(labels.map(_.getAs[String]("cluster_id")).distinct.length == 2)
    assert(labels.count(_.getAs[Boolean]("is_canonical")) == 2)
    // survivors are exactly the canonical members
    val canonicalIds = labels.filter(_.getAs[Boolean]("is_canonical")).map(_.getAs[String]("id")).toSet
    assert(imgs.collect().map(_.getAs[String]("id")).toSet == canonicalIds)

    // CROSS-BATCH: a later document re-embedding the same raster must not
    // land a second copy — its signature probes the persisted dhash column
    val pdf2 = PdfGen.pdf(
      Seq(Seq(Run("Second Document Reusing The Figure", 24.0),
        Run("Entirely different body text so the document hash differs."),
        Run("The embedded figure below is the same gradient raster again."))),
      images = Seq(Img(page = 0, width = w, height = h, bytes = PdfGen.rawRgb(w, h), jpeg = false))
    )
    Files.write(Paths.get(pdfDir, "figures2.pdf"), pdf2)
    assert(pipe.processDirectory(pdfDir, imagesDir = Some(imgDir)) == 1)
    assert(pipe.catalog.read("images").count() == 2,
      "the cross-batch duplicate must be dropped, not stored again")
    val labels2 = pipe.catalog.read("image_clusters").collect()
    assert(labels2.length == 4, s"expected one new non-canonical label, got ${labels2.length}")
    val newRow = labels2.filter(r => !canonicalIds.contains(r.getAs[String]("id")) &&
      !labels.map(_.getAs[String]("id")).contains(r.getAs[String]("id")))
    assert(newRow.length == 1 && !newRow.head.getAs[Boolean]("is_canonical"))
    // ...and it joined the STORED gradient image's cluster, not a new one
    val gradientCluster = labels.filter(r => r.getAs[Boolean]("is_canonical"))
      .map(_.getAs[String]("cluster_id"))
    assert(gradientCluster.contains(newRow.head.getAs[String]("cluster_id")))

    // CASCADE with shared canonicals: deleting the FIRST document (which
    // owns the stored gradient copy) must NOT destroy the copy doc 2's
    // figure resolves to — content-addressed store semantics. The
    // unshared reversed-gradient image deletes normally.
    val docIds = pipe.catalog.read("documents").collect()
      .map(r => r.getAs[String]("source_path") -> r.getAs[String]("id")).toMap
    val doc1 = docIds.keys.find(p => p.contains("figures.pdf")).map(docIds).get
    val doc2 = docIds.keys.find(p => p.contains("figures2.pdf")).map(docIds).get
    pipe.deleteDocument(doc1)
    assert(pipe.catalog.read("images").count() == 1,
      "the shared canonical must survive its uploading document; the unshared image must not")
    assert(pipe.catalog.read("image_signatures").count() == 1,
      "the surviving copy stays probe-able for future batches")
    val afterDoc1 = pipe.catalog.read("image_clusters").collect()
    assert(afterDoc1.length == 1 && afterDoc1.head.getAs[String]("document_id") == doc2,
      s"only doc 2's label row remains: ${afterDoc1.toSeq}")
    // deleting the last referencing document clears the remaining label;
    // the stored copy lingers (content-addressed) until gcImages collects
    // the now-unreferenced orphan
    pipe.deleteDocument(doc2)
    assert(pipe.catalog.read("image_clusters").count() == 0)
    assert(pipe.catalog.read("images").count() == 1)
    assert(pipe.gcImages() == 1L)
    assert(pipe.catalog.read("images").count() == 0)
    assert(pipe.catalog.read("image_signatures").count() == 0)
    assert(pipe.gcImages() == 0L, "gc is idempotent")
  }

  test("single-file ingest touches only that file; duplicate content collapses") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "a.pdf", "# A\n\nalpha document body with several words here.")
    mkPdf(pdfDir, "b.pdf", "# B\n\nbeta document body with different words entirely.")
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))

    // S2: only a.pdf must be ingested, not its sibling
    assert(pipe.processFile(s"$pdfDir/a.pdf") == 1)
    assert(pipe.catalog.read("documents").count() == 1)

    // two files with identical content in one batch -> ONE document
    mkPdf(pdfDir, "b_copy.pdf", "# B\n\nbeta document body with different words entirely.")
    assert(pipe.processDirectory(pdfDir) == 1)
    val docs = pipe.catalog.read("documents")
    assert(docs.count() == 2)
    assert(docs.select("id").distinct().count() == 2, "no colliding ids")

    // fresh-warehouse guards: stats/listDocuments empty, not path errors
    val fresh = new Pipeline(spark, GraftConfig(warehouseDir = s"$wh-empty"))
    assert(fresh.stats().count() == 0)
    assert(fresh.listDocuments().count() == 0)
  }

  test("force-replace: batched cascade replaces only the matching document") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "keep.pdf", "# Keep\n\nthis unrelated document must survive the force path.")
    mkPdf(pdfDir, "swap.pdf", "# Swap\n\noriginal content that will be force-replaced shortly.")
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    assert(pipe.processDirectory(pdfDir) == 2)
    val keepId = pipe.catalog.read("documents")
      .where(col("title") === "keep").head().getAs[String]("id")
    val oldSwapId = pipe.catalog.read("documents")
      .where(col("title") === "swap").head().getAs[String]("id")

    // same content re-uploaded with force: old doc + chunks replaced in
    // ONE batched cascade (one anti-join rewrite per table), keep.pdf
    // untouched
    assert(pipe.processFile(s"$pdfDir/swap.pdf", force = true) == 1)
    val docs = pipe.catalog.read("documents")
    assert(docs.count() == 2)
    assert(docs.where(col("id") === keepId).count() == 1, "unrelated doc must survive")
    // content identical -> same content-derived id, but exactly one row
    assert(docs.where(col("id") === oldSwapId).count() == 1)
    val chunks = pipe.catalog.read("chunks")
    assert(chunks.where(col("document_id") === oldSwapId).select("id").distinct().count() ==
      chunks.where(col("document_id") === oldSwapId).count(), "no duplicated chunks after force")
    // non-force duplicate upload is a no-op (dedup semi-join)
    assert(pipe.processFile(s"$pdfDir/swap.pdf") == 0)
  }

  test("catalog update/delete primitives") {
    val base = Files.createTempDirectory("graft-cat").toString
    val cat = new graft.sources.Catalog(spark, base)
    import spark.implicits._
    cat.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "t")
    cat.deleteWhere("t", col("id") === 1)
    assert(cat.read("t").count() == 2)
    cat.append(Seq((4L, "d")).toDF("id", "v"), "t")
    assert(cat.read("t").count() == 3)
  }

  test("catalog flush drops all tables; dry-run only reports") {
    val base = Files.createTempDirectory("graft-flush").toString
    val cat = new graft.sources.Catalog(spark, base)
    import spark.implicits._
    cat.append(Seq((1L, "a")).toDF("id", "v"), "t1")
    cat.append(Seq((2L, "b")).toDF("id", "v"), "t2")

    assert(cat.flush(dryRun = true) == Seq("t1", "t2"))
    assert(cat.exists("t1") && cat.exists("t2"), "dry run must not delete")

    assert(cat.flush() == Seq("t1", "t2"))
    assert(!cat.exists("t1") && !cat.exists("t2"))
    assert(cat.flush() == Seq.empty, "idempotent on empty warehouse")
  }

  test("pipeline flush invalidates the cached FTS index (no stale-corpus search results)") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "EP001 Widget.pdf",
      "# Widget\n\nthe widget assembly manual describes gears and sprockets in detail.")
    val cfg = GraftConfig(warehouseDir = wh)
    val pipe = new Pipeline(spark, cfg)
    pipe.processDirectory(pdfDir)
    val retriever = new Retriever(spark, pipe, cfg)
    assert(retriever.keywordSearch("widget gears", 5).count() > 0, "corpus searchable pre-flush")

    pipe.flush()
    // post-flush keyword search must NOT serve hits from the deleted
    // corpus's cached postings — the chunks table is gone, so the search
    // path fails loudly (table missing) rather than returning stale hits
    intercept[Exception](retriever.keywordSearch("widget gears", 5).count())
  }

  test("a Flate bomb under maxFileSizeMb is one failed row; the rest of the batch completes") {
    import graft.pdf.PdfGen
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "EP001 Widget.pdf",
      "# Widget\n\nthe widget assembly manual describes gears and sprockets in detail.")
    mkPdf(pdfDir, "EP002 Gadget.pdf",
      "# Gadget\n\nthe gadget handbook covers springs, levers and small motors.")
    val bomb = PdfGen.flateBomb(
      PdfGen.Run("the bomb hides its payload behind one ordinary page of text"),
      bombs = 1, inflated = graft.sources.pdf.PdfParser.MaxStreamBytes + 1)
    assert(bomb.length < (1 << 20))
    Files.write(Paths.get(pdfDir, "EP003 Bomb.pdf"), bomb)

    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    assert(pipe.processDirectory(pdfDir) == 2)
    val docs = pipe.catalog.read("documents").collect()
      .map(r => r.getAs[String]("title") -> r).toMap
    assert(docs("Bomb").getAs[String]("status") == "failed")
    assert(docs("Bomb").getAs[String]("error_message") ==
      s"validation failed: ${graft.model.ValidationResult.DecodeBudgetExceeded}")
    assert(Seq("Widget", "Gadget").forall(t => docs(t).getAs[String]("status") == "completed"))
    assert(pipe.catalog.read("chunks").select("document_title").distinct().count() == 2)
  }

  test("deleteDocument, then every search mode and the context miss the deleted chunks") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "EP001 Widget.pdf",
      "# Widget\n\nthe widget assembly manual describes gears and sprockets in detail.")
    mkPdf(pdfDir, "EP002 Gadget.pdf",
      "# Gadget\n\nthe gadget handbook covers gears, springs and small motors.")
    val cfg = GraftConfig(warehouseDir = wh)
    val pipe = new Pipeline(spark, cfg)
    pipe.processDirectory(pdfDir)
    val retriever = new Retriever(spark, pipe, cfg)
    val modes = Seq(SearchMode.Vector, SearchMode.Keyword, SearchMode.Hybrid)
    def titles(mode: SearchMode.Value): Set[String] =
      retriever.search("widget gears", mode, 10).select("document_title")
        .collect().map(_.getString(0)).toSet
    // warm: the chunks frame and the FTS postings are resident
    modes.foreach(m => assert(titles(m).contains("Widget"), s"$m before the delete"))

    val widget = pipe.catalog.read("documents").where(col("title") === "Widget")
      .select("id").collect().head.getString(0)
    pipe.deleteDocument(widget)
    modes.foreach { m =>
      val after = titles(m)
      assert(!after.contains("Widget") && after.contains("Gadget"), s"$m after the delete: $after")
    }
    val ctx = retriever.getContext("widget gears", 4000)
    assert(!ctx.contains("[Source: Widget]") && ctx.contains("[Source: Gadget]"), ctx)
  }

  /** A cold and two incremental ingests, then the resident FTS index
    * against a fresh build over the chunks table.
    */
  private def residentIndexEqualsFreshBuild(): Unit = {
    import graft.operators.FtsIndex
    val (pdfDir, wh, _) = freshDirs()
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    def batch(i: Int, docs: (String, String)*): Unit = {
      val dir = s"$pdfDir/b$i"
      Files.createDirectories(Paths.get(dir))
      docs.foreach { case (t, body) => mkPdf(dir, s"EP00$i $t.pdf", s"# $t\n\n$body") }
      assert(pipe.processDirectory(dir) == docs.length.toLong)
    }
    try {
      batch(1, "Gears" -> "gears and sprockets turn the widget assembly in small steps.",
        "Springs" -> "springs store energy; the widget releases it through a lever.")
      batch(2, "Motors" -> "small motors drive the widget gears at a steady speed.")
      batch(3, "Levers" -> "a lever multiplies force applied to the widget housing.",
        "Bearings" -> "bearings keep gears aligned under load.")
      val resident = pipe.ftsIndex
      assert(resident.retained.length == 3, "one fragment per batch, no rebuild")
      val fresh = FtsIndex.build(pipe.catalog.read("chunks"), "id", "text")
      assert(resident.numDocs == fresh.numDocs)
      assert(resident.avgDocLen == fresh.avgDocLen, s"${resident.avgDocLen} vs ${fresh.avgDocLen}")
      def hits(idx: FtsIndex.Index, q: String): Seq[(String, Double)] =
        FtsIndex.search(spark, idx, q, 10).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      Seq("widget gears", "lever force", "bearings").foreach { q =>
        assert(hits(resident, q).map(_._1) == hits(fresh, q).map(_._1), q)
      }
      fresh.postings.unpersist()
    } finally pipe.flush()
  }

  test("the resident FTS index after a cold and two incremental ingests equals a fresh build") {
    residentIndexEqualsFreshBuild()
  }

  test("the resident FTS index equals a fresh build with reliable checkpoints too") {
    val sc = spark.sparkContext
    sc.setCheckpointDir(Files.createTempDirectory("graft-e2e-ckpt").toString)
    try residentIndexEqualsFreshBuild()
    finally {
      // restore block-based mode for the rest of the shared-session suite
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, None)
    }
  }

  /** 40 sentences: a document of several chunks. */
  private def longBody(topic: String): String =
    s"# $topic\n\n" + (1 to 40).map(i => s"the $topic manual step $i turns gears and sprockets in order.").mkString(" ")

  test("a file failed under a small maxFileSizeMb is re-admitted into one completed ledger row") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "EP001 Widget.pdf", longBody("widget"))
    val tight = GraftConfig(warehouseDir = wh, extraction = ExtractionConfig(maxFileSizeMb = 0))
    assert(new Pipeline(spark, tight).processDirectory(pdfDir) == 0)
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    val hash = pipe.catalog.read("documents").where(col("status") === "failed")
      .select("file_hash").collect().map(_.getString(0)).toSeq match { case Seq(h) => h }
    def ledger = pipe.catalog.read("documents").where(col("file_hash") === hash)
    try {
      assert(pipe.processDirectory(pdfDir) == 1)
      val row = ledger.collect() match { case Array(r) => r }
      assert(row.getAs[String]("status") == "completed")
      val chunks = pipe.catalog.read("chunks").where(col("document_id") === row.getAs[String]("id")).count()
      assert(chunks > 1 && row.getAs[Long]("total_chunks") == chunks)

      // a hash the ledger holds as failed AND completed is not re-admitted
      pipe.catalog.append(ledger.withColumn("status", lit("failed")).localCheckpoint(), "documents")
      assert(pipe.processDirectory(pdfDir) == 0)
      assert(ledger.select("status").collect().map(_.getString(0)).sorted.toSeq == Seq("completed", "failed"))
      assert(pipe.catalog.read("chunks").count() == chunks)
    } finally pipe.flush()
  }

  test("a batch of known files writes nothing; an all-failed batch writes only failed rows") {
    val (pdfDir, wh, _) = freshDirs()
    mkPdf(pdfDir, "EP001 Widget.pdf", longBody("widget"))
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    def files(table: String): Seq[String] = {
      val ls = Files.list(Paths.get(wh, table))
      try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally ls.close()
    }
    try {
      assert(pipe.processDirectory(pdfDir) == 1)
      val tables = Seq("documents", "chunks")
      val before = tables.map(files)
      assert(pipe.processDirectory(pdfDir) == 0)
      assert(tables.map(files) == before, "a batch of known files wrote to a table")

      val index = pipe.ftsIndex
      val chunks = pipe.catalog.read("chunks").count()
      val bad = s"$pdfDir/bad"
      Files.createDirectories(Paths.get(bad))
      Seq("a.pdf", "b.pdf").foreach(f => Files.write(Paths.get(bad, f), Array.fill[Byte](64)(f.head.toByte)))
      assert(pipe.processDirectory(bad) == 0)
      val statuses = pipe.catalog.read("documents").groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(statuses == Map("completed" -> 1L, "failed" -> 2L))
      assert(pipe.catalog.read("chunks").count() == chunks)
      assert(pipe.ftsIndex.numDocs == index.numDocs && pipe.ftsIndex.totalDocLen == index.totalDocLen)
    } finally pipe.flush()
  }

  test("an incremental batch that re-admits a failed file runs at most 14 Spark jobs") {
    val (pdfDir, wh, _) = freshDirs()
    def dir(name: String, docs: String*): String = {
      val d = s"$pdfDir/$name"
      Files.createDirectories(Paths.get(d))
      docs.foreach(t => mkPdf(d, s"EP $t.pdf", longBody(t)))
      d
    }
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    try {
      assert(pipe.processDirectory(dir("cold", "widget", "gadget")) == 2)
      val tight = GraftConfig(warehouseDir = wh, extraction = ExtractionConfig(maxFileSizeMb = 0))
      assert(new Pipeline(spark, tight).processDirectory(dir("failed", "sprocket")) == 0)
      val batch = dir("batch", "sprocket", "lever")
      var n = 0L
      val jobs = SparkTestBase.jobsDuring { n = pipe.processDirectory(batch) }
      assert(n == 2L)
      assert(jobs <= 14, s"$jobs Spark jobs")
    } finally pipe.flush()
  }

  test("a keyword request on an unchanged warehouse runs at most 3 Spark jobs and keeps the resident index") {
    val (pdfDir, wh, _) = freshDirs()
    Seq("widget", "gadget").foreach(t => mkPdf(pdfDir, s"EP $t.pdf", longBody(t)))
    val cfg = GraftConfig(warehouseDir = wh)
    val pipe = new Pipeline(spark, cfg)
    try {
      assert(pipe.processDirectory(pdfDir) == 2)
      val retriever = new Retriever(spark, pipe, cfg)
      // the first request resolves the chunks table the batch changed
      assert(retriever.search("widget gears", SearchMode.Keyword, 5).collect().nonEmpty)
      val index = pipe.ftsIndex
      var hits = 0
      val jobs = SparkTestBase.jobsDuring {
        hits = retriever.search("gadget sprockets", SearchMode.Keyword, 5).collect().length
      }
      assert(hits > 0)
      assert(jobs <= 3, s"$jobs Spark jobs")
      assert(pipe.ftsIndex eq index, "the unchanged warehouse replaced its resident index")
    } finally pipe.flush()
  }

  test("delete, force re-ingest, reprocess and gcImages leave no checkpoint but the resident index's") {
    import graft.pdf.PdfGen
    import graft.pdf.PdfGen.{Img, Run}
    val (pdfDir, wh, md) = freshDirs()
    // one shared figure: with image dedup on, the three documents' images
    // form one cluster whose stored canonical outlives its first owner
    def figurePdf(title: String): Array[Byte] = PdfGen.pdf(
      Seq(Seq(Run(title, 24.0),
        Run("Body text long enough to pass validation thresholds for sure."),
        Run("More words about gradients, rasters, and figure encodings."))),
      images = Seq(Img(page = 0, width = 160, height = 120, bytes = PdfGen.rawRgb(160, 120), jpeg = false)))
    Seq("a", "b", "c").foreach(n => Files.write(Paths.get(pdfDir, s"$n.pdf"), figurePdf(s"Figure Document $n")))
    val pipe = new Pipeline(spark,
      GraftConfig(warehouseDir = wh, imageDedup = graft.ImageDedupConfig(enabled = true)))
    def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    /** The checkpoints `op` leaves held, other than the resident FTS index's. */
    def leftBy(op: => Any): Set[Int] = {
      val before = persistent
      op
      val after = persistent
      after -- before -- graft.util.Checkpoints.pinnedRddIds(pipe.ftsIndex.postings)
    }
    try {
      assert(pipe.processDirectory(pdfDir, Some(md), Some(s"$pdfDir-images")) == 3)
      assert(pipe.catalog.read("images").count() == 1)
      val docA = pipe.catalog.read("documents").where(col("source_path").endsWith("/a.pdf")).head().getAs[String]("id")
      // after each write the resident index (refreshed from the chunks
      // table's files, with no invalidate anywhere) equals a fresh build
      def fresh(what: String): Unit = SparkTestBase.assertFreshIndex(pipe, "gradients figure encodings", what)
      assert(leftBy(pipe.deleteDocument(docA)).isEmpty, "deleteDocument")
      fresh("deleteDocument")
      assert(leftBy(pipe.processFile(s"$pdfDir/b.pdf", force = true)).isEmpty, "processFile(force = true)")
      fresh("processFile(force = true)")
      assert(leftBy(assert(pipe.reprocessFromMarkdown(md) == 2L)).isEmpty, "reprocessFromMarkdown")
      fresh("reprocessFromMarkdown")
      assert(leftBy(pipe.gcImages()).isEmpty, "gcImages")
    } finally pipe.flush()
  }
}
