package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ChunkingConfig, GraftConfig}
import graft.functions.TextFunctions
import graft.model.DocumentStatus
import graft.operators.{Chunker, Embedder, FtsIndex}
import graft.sources.{Catalog, MarkdownSource, PdfSource}

/** Batch ingestion pipeline — the distributed re-expression of the
  * reference's `Pipeline.process_document` / `process_directory` /
  * `process_new_documents` (reference: src/pipeline.py:47-220).
  *
  * One lazy DAG per batch ([[ingestBatch]]):
  *   binaryFile scan -> per-hash check against the ledger (J1) -> validate
  *   (F1) -> extract (U1, mapPartitions provider) -> markdown checkpoint
  *   (S4) -> chunk flatMap (U4+U5) -> embed (U6) -> load chunks, then the
  *   documents ledger -> bring the resident FTS index up to the chunks
  *   table's files (S7).
  *
  * Spark jobs of an incremental batch (13): 2 schema reads of the changed
  * tables; the batch pin (ledger broadcast, J1 shuffle, pin; it counts the
  * batch); the chunks pin; the chunks append (2 broadcasts, write); the
  * ledger append (broadcast, write), or one swap with a third broadcast if
  * the batch re-admits files; the FTS fragment pin over the appended
  * chunks files (term shuffle, pin).
  *
  * Scale notes: every stage until the table writes is a narrow,
  * per-partition transformation except J1's per-hash aggregate and the
  * FTS postings' term shuffle, both over the batch only. Document ids
  * are content-derived (sha2 of file hash), not UUIDs, so re-runs are
  * idempotent and oracle-testable (SURVEY §7.4.7).
  */
final class Pipeline(spark: SparkSession, config: GraftConfig = GraftConfig.default) {

  // the swap and lease seams are deployment properties: install what this
  // deployment's config names (process-global — see CommitProtocol.install /
  // StoreLease.install). None means "leave the installed protocol alone" —
  // a deployment that installed a custom protocol directly must not have it
  // silently reset by a later Pipeline built from a default config; an
  // explicit Some installs exactly that protocol, INCLUDING the built-in
  // default names, which is how a config restores atomic-move/file after a
  // non-default install (ADVICE r16).
  config.commitProtocol.foreach(n =>
    graft.sources.CommitProtocol.install(graft.sources.CommitProtocol.forName(n)))
  config.leaseProtocol.foreach(n =>
    graft.sources.StoreLease.install(graft.sources.StoreLease.forName(n)))

  val catalog = new Catalog(spark, config.warehouseDir)

  /** Process every new-or-previously-failed PDF under `pdfDir`
    * (incremental semantics of src/pipeline.py:192-220). Returns the
    * number of documents ingested.
    */
  def processDirectory(
      pdfDir: String,
      markdownDir: Option[String] = None,
      imagesDir: Option[String] = None
  ): Long = {
    val n = ingestBatch(PdfSource.scan(spark, pdfDir), s"directory:${java.util.UUID.randomUUID}",
      markdownDir, imagesDir)
    graft.util.JsonLog.info("ingest_directory", "dir" -> pdfDir, "ingested_docs" -> n)
    n
  }

  /** Load one batch of scanned PDF files (the `binaryFile` columns: path,
    * length, content, ...) into the `documents` and `chunks` tables and
    * grow the resident FTS index by it. The one ingest body: both
    * [[processDirectory]] and each micro-batch of
    * [[graft.streaming.StreamingIngest]] run it. `batchToken` names the
    * batch in the `ingest_batch` log line (a stream's checkpoint plus its
    * batch id). Returns the number of documents ingested.
    *
    * Crash-safe order: the chunks append goes first, skipping documents
    * whose chunks already landed, and the `documents` ledger is written
    * after it. A crash between the two appends leaves chunks without
    * ledger rows, so the rerun re-admits those files and appends only
    * their ledger rows; the reverse order would leave `completed` rows
    * with no chunks that no rerun re-admits. The index comes last, as the
    * reference's index-after-load (pipeline.py:164-165), and it needs no
    * crash handling: [[ftsIndex]] follows the chunks table's files, so
    * whatever a crashed batch appended is indexed on the next call.
    */
  private[graft] def ingestBatch(
      scanned: DataFrame,
      batchToken: String,
      markdownDir: Option[String] = None,
      imagesDir: Option[String] = None
  ): Long = {
    import spark.implicits._
    // J1: the scan joins one broadcast of the ledger, then one aggregate
    // per hash keeps one file of it (same content under two names is one
    // document: ids are content-derived), drops a hash the ledger holds
    // with any status but failed, and flags one held only as failed.
    val ledger =
      if (catalog.exists("documents")) catalog.read("documents").select("file_hash", "status")
      else Seq.empty[(String, String)].toDF("file_hash", "status")
    val fresh = scanned
      .withColumn("file_hash", TextFunctions.fileHash(col("content")))
      .join(broadcast(ledger), Seq("file_hash"), "left")
      .groupBy("file_hash")
      .agg(max(coalesce(col("status") =!= DocumentStatus.Failed, lit(false))).as("_done"),
        (max(coalesce(col("status") === DocumentStatus.Failed, lit(false))).as("readmitted") +:
          scanned.columns.toSeq.map(c => first(c).as(c))): _*)
      .where(!col("_done"))
      .drop("_done")

    val extracted = PdfSource
      .withExtraction(fresh, config.extraction)
      .withColumn(
        "validation",
        PdfSource.validationVerdict(
          col("length"), col("content"), col("page_count"), col("extract_error"), config.extraction)
      )
      .withColumn("id", sha2(col("file_hash"), 256))
      .withColumn("title", TextFunctions.titleFromFilename(col("path")))
      .withColumn(
        "quality_fallback",
        TextFunctions.qualityFallbackReason(col("markdown"), col("page_count"))
      )

    // The batch's two checkpoints, the extracted rows and the chunks, are
    // released when the batch ends, however it ends: each cuts the lineage
    // of everything built on it, so its blocks are live until the last
    // append. The resident FTS index reads the appended files, not these.
    graft.util.Checkpoints.scoped(spark) { scratch =>
      // Materialize the batch ONCE and CUT its lineage before mutating
      // the tables: a recompute through J1 after the ledger append would
      // see this batch's own rows and drop them. When image
      // extraction is requested the checkpoint keeps the raw bytes (so
      // the scan+extract DAG still runs exactly once) and drops them right
      // after; otherwise bytes are dropped before the checkpoint. The pin
      // job counts the batch too (an Observation).
      val counted = new org.apache.spark.sql.Observation()
      val isValid = col("validation") === "valid"
      val batch = {
        val pinned = scratch.pin((if (imagesDir.isDefined) extracted else extracted.drop("content"))
          .observe(counted, count(lit(1)).as("n"), count(when(isValid, 1)).as("valid"),
            count(when(col("readmitted"), 1)).as("readmitted")))
        imagesDir.foreach(dir => loadImages(pinned.where(isValid), dir))
        pinned.drop("content")
      }
      val valid = batch.where(isValid)
      val Seq(n, nIngested, nReadmitted) = Seq("n", "valid", "readmitted").map(graft.util.Checkpoints.observed(counted, _))
      graft.util.JsonLog.info("ingest_batch", "batch_token" -> batchToken, "offered" -> n, "valid" -> nIngested,
        "failed" -> (n - nIngested), "readmitted" -> nReadmitted)
      if (n == 0L) 0L
      else {
        // S4: markdown checkpoint (re-chunk without re-extract, pipeline.py:222-268)
        markdownDir.foreach { dir =>
          val rendered = valid.withColumn(
            "md_text",
            MarkdownSource.renderColumn(
              col("id"),
              element_at(split(col("path"), "/"), -1),
              col("title"),
              col("page_count"),
              date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss"),
              lit(config.extraction.method),
              col("file_hash"),
              col("markdown")
            )
          )
          MarkdownSource.write(rendered.withColumnRenamed("id", "document_id"), dir)
        }

        // U4+U5: chunk; U6: embed — both narrow, run once: the pinned rows
        // feed the chunks append and the ledger's chunk counts.
        val chunks =
          scratch.pin(embedChunkRows(chunkDocs(valid.select(col("id"), col("title"), col("markdown")))))
        // ids are unique in a batch (content-derived, hashes deduplicated)
        val batchDocs = broadcast(valid.select(col("id").as("document_id")))
        val tableChunks = if (catalog.exists("chunks")) catalog.read("chunks") else chunks.limit(0)

        // replay guard: skip documents whose chunks already landed (a crash
        // after this append and before the ledger's); parquet appends commit
        // whole, so a document's chunks are all there or none are. The
        // broadcast side reads the listing resolved above and is built
        // before the append writes.
        val presentDocs = tableChunks.select("document_id").join(batchDocs, Seq("document_id"), "left_semi")
        catalog.append(chunks.join(broadcast(presentDocs), Seq("document_id"), "left_anti"), "chunks")

        // Then the documents ledger: rows for completed and failed files.
        // A document's chunk count rides on each of its chunks.
        val totalByDoc = chunks.where(col("chunk_index") === 0)
          .select(col("document_id").as("id"), col("total_chunks").cast("long"))
        val docRows = valid
          .select(
            col("id"), col("path").as("source_path"), col("title"), col("file_hash"),
            col("length").as("file_size_bytes"), col("page_count"),
            lit(config.extraction.method).as("extraction_method"),
            col("quality_fallback")
          )
          .join(broadcast(totalByDoc), Seq("id"), "left")
          .withColumn("total_chunks", coalesce(col("total_chunks"), lit(0L)))
          .withColumn("status", lit(DocumentStatus.Completed))
          .withColumn("error_message", lit(null).cast("string"))
          .withColumn("uploaded_at", current_timestamp())
          .withColumn("processed_at", current_timestamp())

        val failedRows = batch.where(!isValid)
          .select(
            col("id"), col("path").as("source_path"), col("title"), col("file_hash"),
            col("length").as("file_size_bytes"), col("page_count"),
            lit(config.extraction.method).as("extraction_method"),
            col("quality_fallback"),
            concat(lit("validation failed: "), col("validation")).as("error_message")
          )
          .withColumn("total_chunks", lit(0L))
          .withColumn("status", lit(DocumentStatus.Failed))
          .withColumn("uploaded_at", current_timestamp())
          .withColumn("processed_at", lit(null).cast("timestamp"))

        val rows = docRows.unionByName(failedRows)
        // re-admitted files replace their failed rows in one ledger swap (the
        // reference UPDATEs the row on reprocess, sqlite_store.py:153-172)
        if (nReadmitted == 0L) catalog.append(rows, "documents")
        else catalog.overwrite(rows.unionByName(catalog.read("documents").join(
          broadcast(batch.where(col("readmitted")).select("file_hash")), Seq("file_hash"), "left_anti")), "documents")
        // S7: the reference indexes after load (pipeline.py:164-165)
        ftsIndex
        nIngested
      }
    }
  }

  /** Extract, optionally dedup, store and record the images of a batch's
    * valid files (`batch` keeps the raw `content`).
    */
  private def loadImages(batch: DataFrame, dir: String): Unit = {
    // persist: the file-sink foreachPartition and the metadata append
    // are two actions — without caching, the extraction fan-out would
    // execute twice
    val images = graft.sources.ImageExtraction.extractImages(batch).persist()
    // released on EVERY exit: a throw mid-append must not leave the
    // dedup scratch pins (or the payload cache) stranded in a driver
    // that catches per-directory errors and continues
    try graft.util.Checkpoints.scoped(spark) { scratch =>
      val dedupRes = if (config.imageDedup.enabled) Some(dedupImages(images, scratch)) else None
      val kept = dedupRes.map(_.kept).getOrElse(images)
      val meta = graft.sources.ImageExtraction
        .writeImageFiles(kept, dir)
        .withColumn("created_at", current_timestamp())
      catalog.append(meta, "images")
      // signatures and cluster labels land AFTER the images metadata: a
      // crash in the window leaves a stored image that is merely
      // unindexed/unlabeled (re-dedup later / labels-as-own-cluster, both
      // harmless), never an index or label row referencing an image that
      // was never stored — which would silently drop future copies
      // (signatures) or double-label on re-ingest (clusters).
      dedupRes.foreach { r =>
        catalog.append(r.keptSigs.withColumn("created_at", current_timestamp()), "image_signatures")
        catalog.append(r.labels, "image_clusters")
      }
    } finally images.unpersist()
  }

  /** Opt-in near-dup image dedup at ingest (keep-one-per-cluster),
    * in-batch AND cross-batch:
    *
    *   1. decode each payload ONCE to an 8-byte dHash signature
    *      ([[graft.operators.Multimodal.FallbackDHashCodec]]: real
    *      perceptual hash, content-hash fallback for undecodable bytes);
    *   2. in-batch: banded Hamming pairs → label propagation →
    *      keep-min-id; the full (id, cluster_id, is_canonical) labeling
    *      lands in the `image_clusters` table for audit;
    *   3. cross-batch: surviving signatures probe the PERSISTED
    *      `image_signatures` table ([[graft.operators.Dedup
    *      .incrementalHammingPairs]] — index probed, never re-paired); a
    *      survivor matching a stored image is dropped and labeled into
    *      the stored image's cluster (is_canonical = false).
    *
    * Only 8-byte signatures and id pairs ever shuffle; payloads stay in
    * place. Survivors append their `dhash` to the dedicated
    * `image_signatures` table — NOT a column on `images`: a column added
    * mid-life would mix schemas across parquet appends and
    * (mergeSchema-less reads) make the probe's presence check depend on
    * which footer Spark samples. The signatures table is homogeneous by
    * construction, so the next batch probes deterministically without
    * re-decoding history.
    */
  private def dedupImages(
      images: org.apache.spark.sql.DataFrame,
      scratch: graft.util.Checkpoints.Scope
  ): Pipeline.ImageDedupResult = {
    import graft.operators.{Dedup, Multimodal}
    val maxHamming = config.imageDedup.maxHamming
    // decode once; 8-byte (id, dhash) rows pinned for the three consumers
    // (in-batch pairs, cross-batch probe, meta persistence)
    val sigs = scratch.pin(Multimodal
      .withImageDHash(images.select("id", "bytes"), "bytes", "dhash", Multimodal.FallbackDHashCodec)
      .select("id", "dhash")
      .where(col("dhash").isNotNull))

    // in-batch keep-one (labels NOT appended yet — cross-batch resolution
    // below may re-attribute whole in-batch clusters to a stored cluster)
    val pairs = Dedup.hammingPairsFromSigs(sigs, "id", "dhash", maxHamming)
    val labels = scratch.pin(Dedup
      .nearDupClusters(images.select("id"), "id", pairs))
    val canon = labels.groupBy("cluster").agg(min("id").as("_canon"))
    val keptInBatch = Dedup.nearDedupFromClusters(images, "id", labels)

    // cross-batch: in-batch survivors probe the persisted dhash column;
    // a match drops the survivor and maps its WHOLE in-batch cluster to
    // the stored image's cluster (members it absorbed in-batch are
    // transitively duplicates of the stored copy)
    val crossMap: org.apache.spark.sql.DataFrame = {
      if (!catalog.exists("image_signatures"))
        canon.select(col("_canon"), col("_canon").as("_stored")).limit(0)
      else {
        val existing = catalog.read("image_signatures").select("id", "dhash")
        val survivorSigs = sigs.join(keptInBatch.select("id"), Seq("id"), "left_semi")
        val cross = Dedup
          .incrementalHammingPairs(existing, survivorSigs, "id", "dhash", maxHamming)
        // min stored-cluster label across multiple matches for
        // determinism; a stored image predating image_clusters labels
        // as its own cluster
        val existingClusters =
          if (catalog.exists("image_clusters"))
            catalog.read("image_clusters").select(col("id").as("id_index"), col("cluster_id"))
          else cross.select(col("id_index"), col("id_index").as("cluster_id")).limit(0)
        scratch.pin(cross
          .join(existingClusters, Seq("id_index"), "left")
          .select(
            col("id_batch").as("_canon"),
            coalesce(col("cluster_id"), col("id_index")).as("_stored"))
          .groupBy("_canon").agg(min("_stored").as("_stored"))) // read twice: label rewrite + anti-join
      }
    }

    // one coherent labeling per batch: members of a cross-dropped
    // cluster carry the STORED cluster id and none of them is canonical
    // (the stored copy is); untouched clusters label as computed
    // in-batch. Each row records its OWNING DOCUMENT so cascade delete
    // can clear a document's label rows directly (dropped duplicates
    // have no images-table row to resolve through). The CALLER appends
    // this frame, after the images metadata lands (see below).
    val labelRows =
      labels.join(canon, Seq("cluster"))
        .join(crossMap, Seq("_canon"), "left")
        .join(images.select(col("id"), col("document_id")), Seq("id"), "left")
        .select(
          col("id"),
          col("document_id"),
          coalesce(col("_stored"), col("cluster")).as("cluster_id"),
          (col("id") === col("_canon") && col("_stored").isNull).as("is_canonical"))
        .withColumn("created_at", current_timestamp())

    val kept = keptInBatch
      .join(crossMap.select(col("_canon").as("id")), Seq("id"), "left_anti")
    // survivors' signatures form the probe index for every future batch;
    // the CALLER appends both the signatures AND the label rows AFTER the
    // images metadata append — a crash in the window must leave a stored
    // image that is merely unindexed (re-dedup later, harmless) or
    // unlabeled (labels-as-own-cluster on the next cross-batch probe),
    // never an index/label row for an image that was never stored (which
    // would silently drop future copies, or double-label on re-ingest).
    Pipeline.ImageDedupResult(
      kept = kept,
      keptSigs = sigs.join(kept.select("id"), Seq("id"), "left_semi"),
      labels = labelRows)
  }

  /** Chunk a (doc_id, title, markdown)-shaped frame into chunk rows —
    * the ONE place the chunks-table schema is constructed (shared by
    * ingest and reprocess so the table can never go mixed-schema).
    */
  private def chunkDocs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val chunkCfg = config.chunking
    docs
      .toDF("id", "title", "markdown")
      .as[(String, String, String)]
      .flatMap { case (docId, title, md) =>
        Chunker.chunk(md, chunkCfg).map { c =>
          (
            s"$docId-${c.chunkIndex}",
            docId,
            title,
            c.text,
            c.h1,
            c.h2,
            c.h3,
            c.chunkIndex,
            c.totalChunks,
            Seq.empty[Int], // page_numbers: vestigial in the reference (SURVEY §7.4.5)
            c.tokenCount,
            c.isSectionStart
          )
        }
      }
      .toDF(
        "id", "document_id", "document_title", "text", "section_h1", "section_h2",
        "section_h3", "chunk_index", "total_chunks", "page_numbers", "token_count",
        "is_section_start"
      )
  }

  private def embedChunkRows(chunkRows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Embedder
      .withEmbedding(chunkRows, "text", "embedding", config.embedding)
      .withColumn("created_at", current_timestamp())

  /** The resident FTS index over the chunks table, brought up to date
    * with the table's data files on every call ([[FtsIndex.following]]),
    * whoever wrote them: this pipeline, another `Catalog` or another
    * process. The one place the entry changes: no write path touches it.
    */
  def ftsIndex: FtsIndex.Index =
    FtsIndex.following(spark, s"${config.warehouseDir}/chunks", catalog.dataFiles("chunks"), "id", "text")

  /** Cascade delete (S10/J5, src/pipeline.py:270-295): remove a document
    * and its chunks; anti-join rewrite of both tables.
    */
  /** Cascade the image tables (images / image_clusters /
    * image_signatures) for a set of doomed document ids, honoring SHARED
    * CANONICALS: with image dedup, a stored image whose near-dup cluster
    * still has members from OTHER documents outlives its uploading
    * document (content-addressed store semantics) — deleting it would
    * destroy the only stored copy other documents' figures resolve to.
    * Cluster rows are owned by their document (the `document_id` column
    * written at labeling time), so dropped-duplicate labels — which have
    * no images-table row — clean up with their document too.
    */
  private def cascadeImages(doomedDocs: org.apache.spark.sql.DataFrame): Unit =
    graft.util.Checkpoints.scoped(spark) { scratch =>
      val hasClusters = catalog.exists("image_clusters")
      val ownedClusters =
        hasClusters && catalog.read("image_clusters").columns.contains("document_id")
      val keepShared: org.apache.spark.sql.DataFrame =
        if (ownedClusters) {
          val clusters = catalog.read("image_clusters")
          // pin: lineage reads the table being rewritten below
          val doomedRows = scratch.pin(clusters.join(doomedDocs, Seq("document_id"), "left_semi"))
          val others = clusters.join(doomedDocs, Seq("document_id"), "left_anti")
          val keep = scratch.pin(doomedRows
            .where(col("is_canonical"))
            .join(others.select("cluster_id"), Seq("cluster_id"), "left_semi")
            .select("id"))
          catalog.deleteMatching("image_clusters", doomedRows.select("id"), Seq("id"))
          keep
        } else {
          if (hasClusters && catalog.exists("images")) {
            // legacy label rows (no document_id): best-effort by image id
            val doomedImages = catalog.read("images")
              .join(doomedDocs, Seq("document_id"), "left_semi").select("id")
            catalog.deleteMatching("image_clusters", doomedImages, Seq("id"))
          }
          doomedDocs.select(col("document_id").as("id")).limit(0)
        }
      if (catalog.exists("images")) {
        // pin: lineage reads the images table being rewritten
        val doomedImages = scratch.pin(catalog.read("images")
          .join(doomedDocs, Seq("document_id"), "left_semi")
          .select("id")
          .join(keepShared, Seq("id"), "left_anti"))
        catalog.deleteMatching("images", doomedImages, Seq("id"))
        if (catalog.exists("image_signatures"))
          catalog.deleteMatching("image_signatures", doomedImages, Seq("id"))
      }
    }

  /** Garbage-collect ORPHAN stored images: a shared canonical outlives
    * its uploading document while other documents' duplicates resolve to
    * it ([[cascadeImages]]), so once the LAST referencing document is
    * deleted the stored copy lingers unreferenced. An image is an orphan
    * when its owning document is gone AND no live document's
    * image_clusters row points at its cluster (in-batch cluster ids ARE
    * the canonical image's id, and cross-batch labels reuse the stored
    * cluster id, so `cluster_id == image.id` is the reference edge).
    * Deletes metadata + signature rows (files under imagesDir are left
    * for the operator — the metadata row is the commit point). Returns
    * the number of images collected. Run at compaction cadence.
    */
  def gcImages(): Long = {
    if (!catalog.exists("images")) return 0L
    val liveDocs =
      if (catalog.exists("documents"))
        catalog.read("documents").select(col("id").as("document_id"))
      else catalog.read("images").select("document_id").limit(0)
    val orphans = catalog.read("images")
      .join(liveDocs, Seq("document_id"), "left_anti")
      .select("id")
    val referenced =
      if (!catalog.exists("image_clusters")) orphans.limit(0)
      else catalog.read("image_clusters")
        .join(liveDocs, Seq("document_id"), "left_semi")
        .select(col("cluster_id").as("id"))
    graft.util.Checkpoints.scoped(spark) { scratch =>
      // pin: lineage reads the images table being rewritten
      val doomed = scratch.pin(orphans.join(referenced, Seq("id"), "left_anti"))
      val n = doomed.count()
      if (n > 0) {
        catalog.deleteMatching("images", doomed, Seq("id"))
        if (catalog.exists("image_signatures"))
          catalog.deleteMatching("image_signatures", doomed, Seq("id"))
        graft.util.JsonLog.info("gc_images", "collected" -> n)
      }
      n
    }
  }

  def deleteDocument(documentId: String): Unit = {
    import spark.implicits._
    cascadeImages(Seq(documentId).toDF("document_id"))
    catalog.deleteWhere("chunks", col("document_id") === documentId)
    catalog.deleteWhere("documents", col("id") === documentId)
    graft.util.JsonLog.info("delete_document", "document_id" -> documentId)
  }

  /** Flush the warehouse AND every session-resident index: with the
    * tables gone nothing would refresh the resident entries, so their
    * pins would stay held for good.
    */
  def flush(dryRun: Boolean = false): Seq[String] = {
    val dropped = catalog.flush(dryRun)
    if (!dryRun) graft.util.SessionIndices.clear()
    dropped
  }

  /** Point lookup + ordered listing of a document's images (S9/O2,
    * src/load/sqlite_store.py:379-381). Empty result (not a path error)
    * on a warehouse ingested without `imagesDir`.
    */
  def listImages(documentId: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    if (!catalog.exists("images"))
      return spark.emptyDataset[graft.model.ExtractedImage].toDF().drop("position")
    catalog.read("images")
      .where(col("document_id") === documentId)
      .orderBy("page_number", "image_index")
  }

  /** Single-file ingest (S2 — the upload path,
    * src/api/routes/documents.py:112-168): process one PDF already on
    * disk; `force` re-admits a known hash by deleting the prior document
    * first (J2 force-replace).
    */
  def processFile(pdfPath: String, force: Boolean = false): Long = {
    val p = java.nio.file.Paths.get(pdfPath)
    if (force && catalog.exists("documents")) {
      val content = java.nio.file.Files.readAllBytes(p)
      val hash = "sha256:" + java.security.MessageDigest.getInstance("SHA-256")
        .digest(content).map("%02x".format(_)).mkString
      // batch the cascade: ONE anti-join rewrite per table for the whole
      // matching set, instead of per-id deleteDocument calls that rewrite
      // all 3 tables O(n) times (VERDICT r4 #5)
      graft.util.Checkpoints.scoped(spark) { scratch =>
        // pin: the cascade rewrites tables this frame's lineage reads
        val doomed = scratch.pin(catalog.read("documents").where(col("file_hash") === hash).select("id"))
        cascadeImages(doomed.withColumnRenamed("id", "document_id"))
        catalog.deleteMatching("chunks", doomed.withColumnRenamed("id", "document_id"), Seq("document_id"))
        catalog.deleteMatching("documents", doomed, Seq("id"))
      }
      graft.util.JsonLog.info("force_replace_delete", "file_hash" -> hash)
    }
    // the binaryFile source accepts a single-file path: only THIS file is
    // ingested, never its siblings in the parent directory
    processDirectory(pdfPath)
  }

  /** Document listing with optional status filter (F5,
    * src/load/sqlite_store.py:213-227). Empty result (not a path error)
    * on a fresh warehouse.
    */
  def listDocuments(status: Option[String] = None, limit: Int = 100): org.apache.spark.sql.DataFrame = {
    if (!catalog.exists("documents"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType)
        ))
      )
    val docs = catalog.read("documents")
    status.map(s => docs.where(col("status") === s)).getOrElse(docs)
      .orderBy(desc("uploaded_at"), col("id"))
      .limit(limit)
  }

  /** Chunk listing for a document, ordered by chunk_index (Q7/O1,
    * src/load/lancedb_store.py:229-255). Empty result (not a path error)
    * on a fresh warehouse.
    */
  def listChunks(documentId: String, limit: Int = 1000): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    if (!catalog.exists("chunks")) return spark.emptyDataset[graft.model.Chunk].toDF()
    catalog.read("chunks")
      .where(col("document_id") === documentId)
      .orderBy("chunk_index")
      .limit(limit)
  }

  /** Typed view of the chunks table (`Dataset[Chunk]`) — the typed core
    * API of SURVEY §1.3; the parquet schema aligns with the case class by
    * construction.
    */
  def chunksDS: org.apache.spark.sql.Dataset[graft.model.Chunk] = {
    import spark.implicits._
    catalog.read("chunks").as[graft.model.Chunk]
  }

  /** Re-chunk + re-embed from the markdown checkpoints WITHOUT
    * re-extracting PDFs (the reference's reprocess flow,
    * src/pipeline.py:222-268 — the whole point of the S4 checkpoint).
    * Replaces the chunks of every document found under `markdownDir`;
    * useful after a chunking-config change. Returns documents reprocessed.
    */
  def reprocessFromMarkdown(markdownDir: String): Long = {
    import spark.implicits._
    if (!catalog.exists("documents")) return 0L
    graft.util.Checkpoints.scoped(spark) { scratch =>
      // trust the LEDGER, not the directory: a checkpoint file left behind
      // by deleteDocument must not resurrect orphan chunks; pinned to cut
      // lineage before mutating the chunks table
      val parsed = scratch.pin(MarkdownSource.read(spark, markdownDir)
        .select(col("document_id"), col("title"), col("content"))
        .join(
          catalog.read("documents").select(col("id").as("document_id")),
          Seq("document_id"),
          "left_semi"
        ))
      val nDocs = parsed.count()
      if (nDocs > 0) {
        val chunkRows = chunkDocs(parsed)
        val chunks = embedChunkRows(chunkRows)

        // structural delete: a bulk reprocess of millions of checkpoints stays
        // one anti-join — no collected id list, no giant isin expression tree
        catalog.deleteMatching("chunks", parsed.select("document_id"), Seq("document_id"))
        catalog.append(chunks, "chunks")

        // keep the ledger's total_chunks consistent with the new chunking
        val newTotals = chunkRows
          .groupBy(col("document_id").as("id"))
          .agg(count(lit(1)).as("_new_total"))
        // pin: lineage reads the documents table being replaced
        val updatedDocs = scratch.pin(catalog.read("documents")
          .join(broadcast(newTotals), Seq("id"), "left")
          .withColumn("total_chunks", coalesce(col("_new_total"), col("total_chunks")))
          .drop("_new_total"))
        catalog.overwrite(updatedDocs, "documents")
      }
      nDocs
    }
  }

  /** Point lookups (F6, src/load/sqlite_store.py:174-211). */
  def getDocument(id: String): Option[org.apache.spark.sql.Row] =
    if (!catalog.exists("documents")) None
    else catalog.read("documents").where(col("id") === id).collect().headOption

  /** Status histogram + chunk count (A1/A2, src/pipeline.py:297-311).
    * Empty histogram (not a path error) on a fresh warehouse.
    */
  def stats(): DataFrame = {
    import spark.implicits._
    if (!catalog.exists("documents"))
      return Seq.empty[(String, Long, Long)].toDF("status", "n", "total_chunks")
    val byStatus = catalog.read("documents").groupBy("status").agg(count(lit(1)).as("n"))
    val totalChunks = if (catalog.exists("chunks")) catalog.read("chunks").count() else 0L
    byStatus.withColumn("total_chunks", lit(totalChunks))
  }
}

object Pipeline {
  /** What one batch's image dedup produced, with appends DEFERRED to the
    * caller so the crash-ordering invariant holds for every derived
    * table: images metadata first, then signatures, then cluster labels.
    * The frames read the dedup's scratch pins, so the caller consumes them
    * inside the scope those pins were taken in.
    */
  private[pipeline] final case class ImageDedupResult(
      kept: org.apache.spark.sql.DataFrame,
      keptSigs: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame)
}
