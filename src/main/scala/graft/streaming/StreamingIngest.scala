package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftConfig
import graft.functions.TextFunctions
import graft.operators.{Chunker, Embedder, FtsIndex}
import graft.sources.Catalog

/** Structured-Streaming lift of the reference's incremental batch
  * ingestion (reference: src/pipeline.py:192-220 — hash-diff the directory
  * against the ledger, process only new files).
  *
  * The streaming file source + `checkpointLocation` replaces the
  * hash-ledger as the change detector (SURVEY.md §2.11): each discovered
  * file is processed exactly once across restarts. `Trigger.AvailableNow`
  * gives run-to-completion batch semantics on the same code path, and
  * `foreachBatch` performs the multi-table load (documents + chunks) like
  * the batch pipeline does.
  *
  * Scale: the per-batch transformation chain is identical to the batch
  * pipeline (narrow flatMap chunking + embedding); a real deployment sets
  * `maxFilesPerTrigger` for backpressure.
  */
final class StreamingIngest(
    spark: SparkSession,
    config: GraftConfig = GraftConfig.default,
    driftProfilePath: Option[String] = None,
    driftThresholdTvd2Ppm: Long = 200000L, // TVD 0.10
    driftPolicy: StreamingIngest.DriftPolicy = StreamingIngest.Monitor,
    qualityModel: Option[graft.operators.QualityClassifier.CentroidModel] = None,
    qualityModelPath: Option[String] = None,
    lmGate: Option[(graft.operators.TextAnalysis.BigramLm, Long)] = None,
    lmGatePath: Option[(String, Long)] = None,
    pqCodebook: Option[graft.operators.VectorSearch.PqModel] = None,
    pqCodebookPath: Option[String] = None,
    wordHistPath: Option[String] = None,
    tokenizer: Option[graft.operators.TextAnalysis.Tokenizer] = None,
    tokenizerPath: Option[String] = None,
    shardStorePath: Option[String] = None,
    shardStoreShards: Int = 8,
    shardStoreBudget: Int = 2048
) {
  require(
    tokenizer.isEmpty || tokenizerPath.isEmpty,
    "StreamingIngest: pass tokenizer OR tokenizerPath, not both")
  require(
    qualityModel.isEmpty || qualityModelPath.isEmpty,
    "StreamingIngest: pass qualityModel OR qualityModelPath, not both")
  require(
    lmGate.isEmpty || lmGatePath.isEmpty,
    "StreamingIngest: pass lmGate OR lmGatePath, not both")
  require(
    pqCodebook.isEmpty || pqCodebookPath.isEmpty,
    "StreamingIngest: pass pqCodebook OR pqCodebookPath, not both")
  require(
    shardStorePath.isEmpty || tokenizer.nonEmpty || tokenizerPath.nonEmpty,
    "StreamingIngest: shardStorePath needs a tokenizer — the shard store packs " +
      "the per-batch input_ids encode, which only runs when one is configured")
  require(shardStoreShards >= 1 && shardStoreBudget >= 1,
    s"StreamingIngest: need shardStoreShards/shardStoreBudget >= 1, " +
      s"got $shardStoreShards/$shardStoreBudget")

  // The persisted-model path is the restart-safe configuration: an
  // in-memory qualityModel dies with the driver, so a restarted ingest
  // would silently run UNGATED. Loaded eagerly (schema-checked, loud on
  // a missing/corrupt artifact) so misconfiguration fails at
  // construction, not at the first micro-batch.
  private val resolvedQualityModel: Option[graft.operators.QualityClassifier.CentroidModel] =
    qualityModel.orElse(
      qualityModelPath.map(p => graft.operators.QualityClassifier.loadModel(spark, p)))

  // Same restart-safety contract for the LM gate: the path form reloads
  // the persisted count tables (TextAnalysis.loadLm) at construction —
  // a missing/corrupt artifact fails loudly here, not mid-stream.
  private val resolvedLmGate: Option[(graft.operators.TextAnalysis.BigramLm, Long)] =
    lmGate.orElse(lmGatePath.map { case (p, maxFp) =>
      (graft.operators.TextAnalysis.loadLm(spark, p), maxFp)
    })
  resolvedLmGate.foreach { case (_, maxFp) =>
    require(maxFp > 0L,
      s"StreamingIngest: lm gate threshold must be positive, got $maxFp " +
        "(scores are nonnegative — 0 would reject every scored doc)")
  }

  // Frozen PQ codebook for per-batch vector encoding (VERDICT r12 #5):
  // the path form reloads only the codebook sidecar
  // (VectorSearch.loadPqModel) — restart-safe like the other artifacts,
  // loud at construction on a missing/corrupt file or a codebook whose
  // dimensionality cannot encode this config's embeddings.
  private val resolvedPqCodebook: Option[graft.operators.VectorSearch.PqModel] =
    pqCodebook.orElse(
      pqCodebookPath.map(p => graft.operators.VectorSearch.loadPqModel(spark, p)))
  resolvedPqCodebook.foreach { m =>
    require(m.dim == config.embedding.dimension,
      s"StreamingIngest: PQ codebook encodes dim ${m.dim} but this config embeds " +
        s"dim ${config.embedding.dimension} — fit the codebook on the same embedder")
  }

  // Frozen tokenizer for per-batch input_ids encoding — the TRAINING-
  // TENSOR twin of the PQ codebook above: the path form reloads the
  // persisted artifact (TextAnalysis.loadTokenizer) at construction,
  // loud on a missing/corrupt artifact, so the stream encodes under one
  // stable vocabulary across restarts (retrain + re-encode is an
  // explicit offline step, never an implicit mid-stream drift).
  private val resolvedTokenizer: Option[graft.operators.TextAnalysis.Tokenizer] =
    tokenizer.orElse(
      tokenizerPath.map(p => graft.operators.TextAnalysis.loadTokenizer(spark, p)))

  private val catalog = new Catalog(spark, config.warehouseDir)

  /** Guardrail events fired so far (driver-side, bounded by batches that
    * actually drifted) — the programmatic surface; each event is also a
    * JsonLog warn line for log-based alerting.
    */
  val driftEvents: scala.collection.mutable.Buffer[IngestGuardrail.DriftReport] =
    scala.collection.mutable.ArrayBuffer.empty

  /** Start a streaming ingest of text/markdown documents under `dir`.
    * Returns the query; call `processAllAvailable()`/`awaitTermination()`.
    */
  def start(dir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val files = spark.readStream
      .format("text")
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", 64)
      .load(dir)
      .withColumn("path", input_file_name())

    files.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, runToken = checkpointDir)
      }
      .start()
  }

  /** The per-microbatch load: id/title/hash derivation, chunk, embed,
    * append to both tables — mirrors Pipeline.processDirectory's tail.
    * `runToken` scopes the batch id to THIS run (the checkpoint path):
    * batch ids restart at 0 on a fresh checkpoint, and the FTS
    * idempotence stamp must not confuse a new run's batch N with a
    * replay of an old run's batch N.
    */
  private[graft] def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      runToken: String,
      skipDriftGate: Boolean = false
  ): Unit = {
    if (batch.isEmpty) return
    val s = batch.sparkSession
    import s.implicits._

    // Intra-batch SCRATCH pins (the deduped batch, the two gate score
    // frames, the replay-view helper) are all released when the batch
    // completes — a weeks-long stream must not accumulate one checkpoint
    // RDD per gate per micro-batch. They cannot be released earlier: each
    // truncates the lineage of everything downstream of it, so the blocks
    // are live until the final table appends finish. The `chunks` pin
    // below is NOT scratch — when the batch completes it is handed to the
    // live FTS index, which releases it when its key is invalidated.
    val scratchPins = scala.collection.mutable.ArrayBuffer.empty[Int]
    var batchChunks: Option[DataFrame] = None
    def pinScratch(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint()
      scratchPins ++= graft.util.Checkpoints.pinnedRddIds(p)
      p
    }
    try {

    val hashed = batch
      .withColumn("file_hash", TextFunctions.fileHash(encode(col("value"), "UTF-8")))
      // content-level dedup, the streaming twin of the batch J1 anti-join:
      // within the micro-batch (two files, same bytes) and against the
      // already-ingested ledger (same content re-appearing in a later file)
      .dropDuplicates("file_hash")
    // Takedown gate: content deleted via deleteStreamDocument must never
    // come back — not from a checkpoint replay of its original batch
    // (those rows are gone from documents_stream, so the ledger anti-join
    // below would happily re-admit them) and not from the same bytes
    // arriving in a new file. The tombstone table is bounded by
    // deletions, so it broadcasts.
    val tombstoned =
      if (!catalog.exists("stream_tombstones")) hashed
      else
        hashed.join(
          broadcast(catalog.read("stream_tombstones").select("file_hash")),
          Seq("file_hash"),
          "left_anti")
    val antiJoined =
      if (!catalog.exists("documents_stream")) tombstoned
      else
        tombstoned.join(
          broadcast(catalog.read("documents_stream").select("file_hash")),
          Seq("file_hash"),
          "left_anti"
        )
    // Lineage cut (same hazard as Pipeline.processDirectory): the chunks
    // append below is a second action whose lineage would re-run this
    // anti-join AFTER the documents_stream append refreshed the file
    // listing — silently dropping the whole batch's chunks. Pin the
    // deduped batch on the executors before the first append.
    val deduped = pinScratch(antiJoined)
    if (deduped.isEmpty) return

    // Opt-in drift guardrail (VERDICT r9 #6): the batch's text-length
    // mix against the persisted reference profile, BEFORE the load —
    // one |bins|-sized aggregation over the already-pinned batch.
    // Monitor policy: the batch still loads, the event is on record.
    // Quarantine policy: the batch is DIVERTED whole to
    // `quarantine_stream` (path, hash, raw text, the drift stats) and
    // never reaches documents/chunks/FTS — rows stay replayable from
    // the quarantine table once the drift is adjudicated. Whole-batch,
    // not per-row: drift is a property of the MIX, so there is no
    // per-row "drifted" bit to route on.
    val quarantined = !skipDriftGate && driftProfilePath.exists { profile =>
      // the same |bins|-row counts frame feeds the drift comparison AND
      // the observations ledger IngestGuardrail.refreshProfile rebuilds
      // from — pinned so the two consumers share one aggregation
      val counts = deduped
        .select(IngestGuardrail.lengthBin(col("value")).as("category"))
        .groupBy("category").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val rep = IngestGuardrail.checkCounts(
        counts, s.read.parquet(profile), driftThresholdTvd2Ppm, batchId)
      catalog.append(
        counts.select(
          lit(s"$runToken#$batchId").as("batch_key"),
          col("category"), col("n"),
          lit(rep.isDefined).as("drifted"),
          current_timestamp().as("observed_at")),
        "guardrail_observations")
      rep.foreach { r =>
        driftEvents += r
        graft.util.JsonLog.warn(
          "ingest_drift_detected",
          "batch_id" -> r.batchId,
          "tvd2_ppm" -> r.tvd2Ppm,
          "worst_category" -> r.worstCategory,
          "worst_abs_ppm_diff" -> r.worstAbsPpmDiff,
          "policy" -> (driftPolicy match {
            case StreamingIngest.Quarantine => "quarantine"
            case StreamingIngest.Monitor    => "monitor"
          }))
      }
      // both consumers (check + observation append) are done — release
      // the pinned blocks, or a weeks-long stream accumulates one
      // checkpoint RDD per micro-batch
      graft.util.Checkpoints.release(graft.util.Checkpoints.pinnedRddIds(counts), s)
      rep.isDefined && driftPolicy == StreamingIngest.Quarantine
    }
    if (quarantined) {
      // replay idempotence (the rejected_stream guard's sibling):
      // quarantined batches never reach the documents_stream ledger, so
      // a crash between this append and the checkpoint commit would
      // re-deliver the batch and double-append it — anti-join on the
      // content hash against the quarantine table itself
      val newQuarantine =
        if (!catalog.exists("quarantine_stream")) deduped
        else
          deduped.join(
            broadcast(catalog.read("quarantine_stream").select("file_hash")),
            Seq("file_hash"),
            "left_anti")
      catalog.append(
        newQuarantine.select(
          col("path").as("source_path"),
          col("file_hash"),
          col("value"),
          lit(batchId).as("batch_id"),
          // batch ids restart at 0 per checkpoint — the run token makes
          // (run_token, batch_id) the unambiguous replay key
          lit(runToken).as("run_token"),
          current_timestamp().as("quarantined_at")),
        "quarantine_stream")
      return
    }

    // Opt-in model-based quality gate (the distilled classifier as an
    // ingest stage — the streaming twin of Curation's qualityModel).
    // PER-ROW, unlike the mix-level drift guardrail: each rejected doc
    // is diverted to `rejected_stream` (path, hash, raw text, the
    // signed gap for threshold audits) instead of silently dropped —
    // adjudicate and re-ingest from the table, the quarantine
    // convention. Accepted docs continue unchanged. The scored batch is
    // pinned once so the reject append and the accept path don't each
    // re-run the featurize pass.
    val screened = resolvedQualityModel match {
      case None => deduped
      case Some(m) =>
        val scored = pinScratch(graft.operators.QualityClassifier
          .classify(deduped, "file_hash", "value", m))
        // Replay idempotence: rejects never reach the documents_stream
        // ledger the batch anti-join keys on, so a crash after this
        // append and before the ledger write would re-score the batch
        // and append the SAME rejects again — anti-join against the
        // rejected table itself (its file_hash is the content key),
        // mirroring the chunks/FTS replay guards.
        val rejected = scored.where(col("pred") === -1)
          .transform(r =>
            if (!catalog.exists("rejected_stream")) r
            else
              r.join(
                broadcast(catalog.read("rejected_stream").select("file_hash")),
                Seq("file_hash"),
                "left_anti"))
        val nRejected = rejected.count()
        if (nRejected > 0) {
          catalog.append(
            rejected.select(
              col("path").as("source_path"),
              col("file_hash"),
              col("value"),
              col("gap"),
              lit(batchId).as("batch_id"),
              current_timestamp().as("rejected_at")),
            "rejected_stream")
          graft.util.JsonLog.warn(
            "ingest_quality_rejected",
            "batch_id" -> batchId,
            "n_rejected" -> nRejected)
        }
        val accepted = scored.where(col("pred") === 1).drop("pred", "gap")
        if (accepted.isEmpty) return
        accepted
    }

    // Opt-in LM-perplexity gate (the frozen trusted-corpus bigram LM as
    // an ingest stage — the streaming twin of Curation's lmGate, running
    // AFTER the classifier like the batch composite's stage order).
    // Rejects divert to the dedicated `lm_rejected_stream` — NOT
    // rejected_stream, whose schema carries the classifier gap; mixing
    // schemas in one parquet table is the footer-sampling trap the image
    // signature table documented — with the score for threshold audits,
    // replay-guarded by content key like every stream append. Tokenless
    // docs have no score row and pass (the chunker owns empties).
    val lmScreened = resolvedLmGate match {
      case None => screened
      case Some((lm, maxFp)) =>
        val scored = pinScratch(screened
          .join(
            graft.operators.TextAnalysis
              .scoreWithLm(lm, screened, "file_hash", "value")
              .select(col("doc_id").as("file_hash"), col("mean_lm_fp")),
            Seq("file_hash"), "left"))
        val rejected = scored.where(col("mean_lm_fp") >= maxFp)
          .transform(r =>
            if (!catalog.exists("lm_rejected_stream")) r
            else
              r.join(
                broadcast(catalog.read("lm_rejected_stream").select("file_hash")),
                Seq("file_hash"),
                "left_anti"))
        val nLmRejected = rejected.count()
        if (nLmRejected > 0) {
          catalog.append(
            rejected.select(
              col("path").as("source_path"),
              col("file_hash"),
              col("value"),
              col("mean_lm_fp"),
              lit(batchId).as("batch_id"),
              current_timestamp().as("rejected_at")),
            "lm_rejected_stream")
          graft.util.JsonLog.warn(
            "ingest_lm_rejected",
            "batch_id" -> batchId,
            "n_rejected" -> nLmRejected)
        }
        val accepted = scored
          .where(coalesce(col("mean_lm_fp") < maxFp, lit(true)))
          .drop("mean_lm_fp")
        if (accepted.isEmpty) return
        accepted
    }

    val docs = lmScreened
      .withColumn("id", sha2(col("file_hash"), 256))
      .withColumn("title", TextFunctions.titleFromFilename(col("path")))

    val chunkCfg = config.chunking
    val chunkRows = docs
      .select(col("id"), col("title"), col("value"))
      .as[(String, String, String)]
      .flatMap { case (docId, title, text) =>
        Chunker.chunk(text, chunkCfg).map { c =>
          (s"$docId-${c.chunkIndex}", docId, title, c.text, c.chunkIndex, c.totalChunks,
            c.tokenCount, c.isSectionStart)
        }
      }
      .toDF("id", "document_id", "document_title", "text", "chunk_index",
        "total_chunks", "token_count", "is_section_start")

    // One materialization of the chunk+embed work: the batch feeds the
    // table append AND the FTS extension, and without the pin each
    // consumer (plus the index's lazily-persisted postings) would re-run
    // the embedding mapPartitions. The batch owns the checkpointed blocks
    // until it completes; then FtsIndex.handOverBatch (below, in the
    // finally) gives them to the session-resident FTS index if its batch
    // postings still read them, and FtsIndex.invalidate / Pipeline.flush
    // release them with the index — Dataset.unpersist alone cannot free
    // checkpoint RDDs. A takedown or flush that invalidates the key
    // mid-batch therefore never frees blocks this batch is still reading.
    val chunks = Embedder.withEmbedding(chunkRows, "text", "embedding", config.embedding)
      .localCheckpoint()
    batchChunks = Some(chunks)

    // Crash-replay view of the table, computed structurally (no collected
    // id lists, no isin literals). A doc of THIS batch can already have
    // rows in chunks_stream only if an earlier attempt crashed after the
    // chunk append but before the ledger append below (the anti-join
    // above keys replay detection on documents_stream, which is written
    // LAST). Both consumers must agree on what is "pre-batch":
    //   - the FTS build corpus must EXCLUDE the batch's docs: a replay
    //     with a cold index cache takes extendForBatch's build path, and
    //     a build over the raw table (which already holds the crashed
    //     attempt's chunks) followed by the batch union would double-count
    //     this batch's postings — inflated tf/df until invalidated;
    //   - the table append must SKIP docs whose chunks already landed
    //     (parquet appends commit atomically per job, so a doc's chunks
    //     are all-or-nothing).
    // Derived from the PINNED chunks frame, not from `docs`: the FTS
    // index's lazily-persisted postings retain this frame's lineage until
    // first search, which can be AFTER this batch's scratch pins (which
    // `docs` sits on top of) are released below — `chunks`' blocks are
    // the ones the index takes over at the end of the batch.
    // Zero-chunk docs drop out, which is correct for both consumers: they
    // have no postings to exclude and no landed chunks to skip.
    val batchDocs = chunks.select(col("document_id")).distinct()
    val tableChunks =
      if (catalog.exists("chunks_stream")) catalog.read("chunks_stream") else chunks.limit(0)
    val preBatchChunks = tableChunks.join(broadcast(batchDocs), Seq("document_id"), "left_anti")

    // Incremental FTS maintenance FIRST, atomically and idempotently
    // (FtsIndex.extendForBatch): a replayed micro-batch skips
    // re-extension via the run-scoped stamp; a concurrent search
    // serializes against this compute, so it can neither build an index
    // that already contains the batch and then have us union it AGAIN
    // (double-count race) nor build from the pre-append table after a
    // no-op extension and permanently miss the batch (lost-update race).
    FtsIndex.extendForBatch(
      ftsKey, s"$runToken#$batchId", chunks, "id", "text",
      preBatchCorpus = preBatchChunks
    )

    // Replay-safe write order: chunks first, the documents LEDGER last.
    // With the old docs-first order, a crash between the two appends left
    // committed ledger rows whose chunks never landed, and the replay's
    // anti-join then skipped the whole batch (chunks lost for good).
    // presentDocs is pinned (eager localCheckpoint) so the append job
    // below never re-scans the table it is writing into.
    val presentDocs = pinScratch(tableChunks
      .join(broadcast(batchDocs), Seq("document_id"), "left_semi")
      .select("document_id").distinct())
    val newChunks = chunks.join(broadcast(presentDocs), Seq("document_id"), "left_anti")
    catalog.append(newChunks, "chunks_stream")

    // Optional per-batch vector encode against the FROZEN loaded PQ
    // codebook — the O(batch) pqEncode contract lifted to the ingest
    // path, the vector twin of the per-batch FTS extension: one narrow
    // pass over the batch's already-pinned chunks, no shuffle, no
    // re-fit. Ordering invariants: codes land AFTER the chunks append
    // (never a code row for a chunk that was never stored) and BEFORE
    // the ledger append (ledger committed => codes committed, so a
    // batch that will never replay is never missing its codes). Replay
    // guard: anti-join on the codes table's own content-derived chunk
    // id, over the FULL batch (not newChunks) so a crash between the
    // chunks and codes appends backfills on replay.
    resolvedPqCodebook.foreach { m =>
      val encoded = graft.operators.VectorSearch
        .pqEncode(m, chunks, "id", "embedding", keepCols = Seq("document_id"))
      // Replay guard bounded by the BATCH, not by history: thin the codes
      // table to this batch's chunk ids (the broadcast side is the small
      // batch — broadcasting the table's full id set would grow without
      // bound on a long stream), and pin the ≤batch-sized survivor list
      // so the append below never re-scans the table it writes into —
      // the presentDocs discipline.
      val alreadyCoded = pinScratch(
        if (!catalog.exists("pq_codes_stream")) chunks.select("id").limit(0)
        else
          catalog.read("pq_codes_stream").select("id")
            .join(broadcast(chunks.select("id")), Seq("id"), "left_semi"))
      val newCodes = encoded.join(broadcast(alreadyCoded), Seq("id"), "left_anti")
      catalog.append(
        newCodes.select(
          col("id"), col("document_id"), col("pq_codes"),
          lit(batchId).as("batch_id"),
          current_timestamp().as("created_at")),
        "pq_codes_stream")
    }

    // Optional per-batch input_ids encode against the FROZEN loaded
    // tokenizer — the TRAINING-TENSOR twin of the PQ block above: the
    // streamed corpus becomes directly trainable (feed the table into
    // SequencePacking.packSequences / exportShards) without an offline
    // re-encode pass. Same contract end to end: O(batch) encode (the
    // encodeIdsFrame per-DISTINCT-word segmentation, batch-bounded),
    // ids land AFTER the chunks append and BEFORE the ledger, replay
    // guard anti-joins on the codes table's content-derived chunk id
    // over the FULL batch so a crash between appends backfills.
    // Zero-word chunks emit no row (the encoder omission convention) —
    // they carry no trainable tokens.
    resolvedTokenizer.foreach { tok =>
      val encoded = graft.operators.TextAnalysis
        .encodeIds(tok, chunks, "id", "text")
        .join(broadcast(chunks.select("id", "document_id")), Seq("id"))
      val alreadyEncoded = pinScratch(
        if (!catalog.exists("input_ids_stream")) chunks.select("id").limit(0)
        else
          catalog.read("input_ids_stream").select("id")
            .join(broadcast(chunks.select("id")), Seq("id"), "left_semi"))
      val newIds = encoded.join(broadcast(alreadyEncoded), Seq("id"), "left_anti")
      catalog.append(
        newIds.select(
          col("id"), col("document_id"), col("input_ids"), col("n_tokens"),
          lit(batchId).as("batch_id"),
          current_timestamp().as("created_at")),
        "input_ids_stream")

      // Optional TRAINER-SHARD SINK (r15, VERDICT r14 #1 closed as a
      // first-class ingest stage): pack THIS batch's encoded rows and
      // land them into the loader's shard store — exportShards creates
      // it on the founding batch (stamping that batch's replay key into
      // the ledger), appendShards extends it O(batch) afterwards. The
      // batch rows are re-read from the input_ids table by the batch's
      // content-derived chunk ids so a crash-replay packs IDENTICAL
      // rows; seq ids are xxhash64 of the chunk id (content-derived,
      // replay-stable). Lands AFTER the input_ids append (a shard can
      // never carry ids the table doesn't) and BEFORE the ledger
      // append (ledger committed => loader current); replay of a
      // committed batch is an appendShards ledger no-op.
      shardStorePath.foreach { sp =>
        val batchRows = catalog.read("input_ids_stream")
          .join(broadcast(chunks.select("id")), Seq("id"), "left_semi")
          .withColumn("seq_id", xxhash64(col("id")))
        // partitions = 1: bin layout must be a PURE function of the batch
        // content so a crash-replay re-packs bit-identical bins (the heal
        // path anti-joins on bin ids); micro-batches are small by
        // construction (maxFilesPerTrigger), so one packer task is right
        val packed = graft.operators.SequencePacking.packSequences(
          batchRows, "seq_id", "n_tokens", "input_ids", shardStoreBudget, partitions = 1)
        val key = s"$runToken#$batchId"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sp/manifest"))) {
          if (!packed.isEmpty)
            graft.operators.SequencePacking.exportShards(
              packed, sp, shardStoreShards, stampKey = key)
        } else
          graft.operators.SequencePacking.appendShards(packed, sp, key)
      }
    }

    // Optional tokenizer-corpus maintenance: append this batch's word
    // counts to the persisted WordHistogram in O(batch) — the TRAIN-side
    // twin of the FTS/PQ per-batch maintenance above. Retraining any
    // tokenizer from the grown histogram is then driver-local with zero
    // corpus re-reads (TextAnalysis.loadWordHistogram + the WordHistogram
    // trainer overloads). Replay-keyed by runToken#batchId: a
    // crash-replayed batch appends identical rows, which load collapses.
    // Lands BEFORE the ledger append (ledger committed => counts
    // committed; a crash in between replays the batch and re-appends
    // under the SAME key — collapsed, never double-counted).
    wordHistPath.foreach { p =>
      graft.operators.TextAnalysis.appendWordHistogram(
        docs.select(col("value")), "value", p, s"$runToken#$batchId")
      // per-doc provenance sidecar (ADVICE r14): records each document's
      // exact contribution so deleteStreamDocument can subtract it — by
      // delete time the raw text is gone and chunk text double-counts
      // overlap windows. Same O(batch) cost and replay key as the
      // aggregate append above.
      graft.operators.TextAnalysis.appendDocWordCounts(
        docs.select(col("id"), col("value")), "id", "value", p, s"$runToken#$batchId")
    }

    catalog.append(
      docs.select(
        col("id"), col("path").as("source_path"), col("title"), col("file_hash"),
        lit("stream").as("extraction_method"), lit("completed").as("status"),
        current_timestamp().as("processed_at"), lit(batchId).as("batch_id")
      ),
      "documents_stream"
    )
    graft.util.JsonLog.info("stream_batch_ingested", "batch_id" -> batchId)

    } finally {
      batchChunks.foreach(FtsIndex.handOverBatch(ftsKey, _))
      graft.util.Checkpoints.release(scratchPins.toSet, s)
    }
  }

  /** FTS cache key of the streaming corpus — searches over the stream
    * table should build through this key to benefit from the incremental
    * per-batch maintenance above.
    */
  def ftsKey: String = s"${config.warehouseDir}/chunks_stream"

  /** Re-ingest adjudicated quarantined batches through the normal load
    * path EXACTLY ONCE. The drift gate is bypassed — invoking replay IS
    * the adjudication of that drift (otherwise the same mix would
    * re-quarantine forever) — while the quality gate and every
    * crash-replay guard still apply. Quarantine rows are RETAINED as the
    * audit trail; idempotence comes from the documents_stream
    * content-hash anti-join plus a deterministic replay token (a
    * crash-rerun of the same adjudication reuses the same FTS stamp), so
    * a second replay of the same batches is a no-op. Returns the number
    * of documents actually loaded.
    *
    * Batch ids RESTART at 0 per checkpoint (the reason `runToken` exists
    * on the ingest path), so `batch_id` alone is ambiguous across runs:
    * when the selected rows span more than one ingest run, the call
    * FAILS LOUDLY listing the run tokens — pass `runToken` to scope the
    * adjudication to one run (silently replaying another run's
    * un-adjudicated batch past the drift gate is the failure mode being
    * refused).
    */
  def replayQuarantined(batchIds: Seq[Long], runToken: Option[String] = None): Long = {
    require(batchIds.nonEmpty, "replayQuarantined: pass at least one quarantined batch id")
    if (!catalog.exists("quarantine_stream")) return 0L
    val table = catalog.read("quarantine_stream")
    val byBatch = table.where(col("batch_id").isin(batchIds: _*))
    val selected =
      if (!table.columns.contains("run_token")) byBatch // pre-run_token table: legacy rows
      else runToken match {
        case Some(t) => byBatch.where(col("run_token") === t)
        case None =>
          val tokens = byBatch.select("run_token").distinct().collect().map(_.getString(0))
          require(tokens.length <= 1,
            s"replayQuarantined: batch ids [${batchIds.mkString(",")}] span ${tokens.length} " +
              s"ingest runs (batch ids restart per checkpoint) — pass runToken to pick one of: " +
              tokens.mkString(" | "))
          byBatch
      }
    val rows = selected
      .select(col("value"), col("source_path").as("path"))
      // pin: the load below appends to tables this plan must never re-read
      .localCheckpoint()
    // release on EVERY exit — the unknown-batch-id early return must not
    // leak the pinned blocks any more than the success path does
    try {
      if (rows.isEmpty) return 0L
      def ledgerCount(): Long =
        if (catalog.exists("documents_stream")) catalog.read("documents_stream").count() else 0L
      val before = ledgerCount()
      val token = s"${config.warehouseDir}#quarantine-replay:${runToken.getOrElse("-")}:" +
        batchIds.sorted.mkString(",")
      ingestBatch(rows, batchId = 0L, runToken = token, skipDriftGate = true)
      val loaded = ledgerCount() - before
      graft.util.JsonLog.info("quarantine_replayed",
        "batch_ids" -> batchIds.mkString(","), "loaded_docs" -> loaded)
      loaded
    } finally {
      graft.util.Checkpoints.release(
        graft.util.Checkpoints.pinnedRddIds(rows), spark)
    }
  }

  /** Delete/takedown verb for the STREAMED corpus (VERDICT r13 #2) — the
    * batch [[graft.pipeline.Pipeline.deleteDocument]] cascade, extended
    * to every table this ingest writes: `documents_stream`,
    * `chunks_stream`, `pq_codes_stream`, `input_ids_stream`, plus the raw-text holding pens
    * (`quarantine_stream`, `rejected_stream`, `lm_rejected_stream` —
    * a takedown must purge the diverted copies too, found by deriving
    * their would-be document id `sha2(file_hash, 256)`). The stream FTS
    * key is invalidated so BM25 stops serving the doc's postings, and
    * the ADC path stops at the rewritten codes table. When the ingest
    * maintains a word histogram (`wordHistPath`), the document's exact
    * ingest-time counts are subtracted as a negative delta batch
    * ([[graft.operators.TextAnalysis.retractWordHistogramDoc]]) — the
    * aggregate a future tokenizer retrains from forgets the doc too.
    * When the ingest maintains a trainer-shard store (`shardStorePath`),
    * the victim's packed segments are surgically retracted from the
    * affected shards ([[graft.operators.SequencePacking.retractFromShards]],
    * membership-index discovery) — the loader's next certified read
    * serves a corpus that no longer contains the document.
    *
    * Resurrection-proof: the content hashes are TOMBSTONED FIRST
    * (`stream_tombstones`, anti-joined by every future [[ingestBatch]]),
    * so neither a checkpoint replay of the original batch — whose
    * ledger anti-join would otherwise re-admit rows that no longer have
    * a documents_stream entry — nor the same bytes in a fresh file can
    * bring the content back. A crash mid-cascade leaves the tombstone in
    * place and the delete idempotent: rerun it to finish the rewrites
    * (duplicate tombstone rows are harmless to an anti-join).
    *
    * Returns the number of distinct content hashes taken down (0 =
    * unknown id, nothing touched).
    */
  def deleteStreamDocument(documentId: String): Long = {
    import spark.implicits._
    def hashesFrom(table: String, deriveId: Boolean): DataFrame =
      if (!catalog.exists(table)) Seq.empty[String].toDF("file_hash")
      else {
        val t = catalog.read(table)
        if (deriveId) t.where(sha2(col("file_hash"), 256) === documentId).select("file_hash")
        else t.where(col("id") === documentId).select("file_hash")
      }
    // pin: the cascade below rewrites the very tables this plan reads
    val hashes = hashesFrom("documents_stream", deriveId = false)
      .unionByName(hashesFrom("quarantine_stream", deriveId = true))
      .unionByName(hashesFrom("rejected_stream", deriveId = true))
      .unionByName(hashesFrom("lm_rejected_stream", deriveId = true))
      .distinct()
      .localCheckpoint()
    try {
      val n = hashes.count()
      if (n == 0L) return 0L
      // tombstone FIRST: once recorded, no replay or re-arrival can
      // resurrect the content even if a crash interrupts the rewrites
      catalog.append(
        hashes.select(
          col("file_hash"),
          lit(documentId).as("document_id"),
          current_timestamp().as("deleted_at")),
        "stream_tombstones")
      // the trainer-shard store first, derived from the input_ids rows the
      // cascade below is about to rewrite away: the victim's packed
      // sequence ids are xxhash64 of its chunk ids (the ingest sink's
      // derivation), retraction is the surgical in-shard verb, and a
      // crash-rerun finds nothing left to retract (idempotent like the
      // rest of the cascade)
      shardStorePath.foreach { sp =>
        if (catalog.exists("input_ids_stream") &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(s"$sp/manifest"))) {
          val victimSeqIds = catalog.read("input_ids_stream")
            .where(col("document_id") === documentId)
            .select(xxhash64(col("id"))).collect().map(_.getLong(0)).toSeq
          // bounded slices: retractFromShards caps a single request at
          // 10k ids, and a very large document exceeds that with one
          // seq id per chunk — retraction is idempotent per id, so a
          // crash mid-loop re-runs clean, and the document can never be
          // left undeletable by its own size
          victimSeqIds.grouped(10000).foreach { g =>
            graft.operators.SequencePacking.retractFromShards(spark, sp, g)
          }
        }
      }
      catalog.deleteWhere("chunks_stream", col("document_id") === documentId)
      catalog.deleteWhere("pq_codes_stream", col("document_id") === documentId)
      catalog.deleteWhere("input_ids_stream", col("document_id") === documentId)
      catalog.deleteMatching("quarantine_stream", hashes, Seq("file_hash"))
      catalog.deleteMatching("rejected_stream", hashes, Seq("file_hash"))
      catalog.deleteMatching("lm_rejected_stream", hashes, Seq("file_hash"))
      catalog.deleteWhere("documents_stream", col("id") === documentId)
      // maintained-histogram compensation (ADVICE r14): subtract the
      // document's exact ingest-time word counts as a negative delta —
      // the per-doc sidecar makes it exact, the takedown batch_key makes
      // a crash-rerun (or a post-compaction replay) a no-op
      wordHistPath.foreach { p =>
        graft.operators.TextAnalysis.retractWordHistogramDoc(spark, p, documentId)
      }
      FtsIndex.invalidate(ftsKey)
      graft.util.JsonLog.info("delete_stream_document",
        "document_id" -> documentId, "n_hashes" -> n)
      n
    } finally {
      graft.util.Checkpoints.release(
        graft.util.Checkpoints.pinnedRddIds(hashes), spark)
    }
  }
}

object StreamingIngest {
  /** What a fired drift guardrail does to the batch: [[Monitor]] logs
    * and loads; [[Quarantine]] diverts the WHOLE batch to the
    * `quarantine_stream` table and loads nothing (re-ingest from there
    * after adjudication).
    */
  sealed trait DriftPolicy
  case object Monitor extends DriftPolicy
  case object Quarantine extends DriftPolicy
}
