package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.VectorSearch

/** The engine's retrieval-quality datasheet (VERDICT r9 #7): recall@10
  * and MRR@10 against brute-force cosine truth for EVERY ANN surface at
  * its operating point, over the same 20 probe queries RecallProbe uses
  * — one table, produced by one run, recorded in SCALE.md.
  *
  * MRR@10 here scores a surface's ranked top-10 against the brute-force
  * top-10 as the relevant set: reciprocal rank of the first true-top-10
  * item (0 when none surfaces). Brute force itself reads 1.000/1.000 by
  * construction — the sanity row. The query vector IS a corpus row and
  * every surface trivially returns it at rank 1 (a first cut of this
  * table read MRR 1.000 on every row from exactly that), so the
  * SELF-MATCH IS EXCLUDED from both truth and results — the standard
  * known-item convention, and the numbers then measure neighbor
  * retrieval, not self-lookup.
  *
  * The banded-LSH rows double as the recall-vs-L curve (VERDICT r9 #2):
  * L is the ONLY recall knob of the band-OR layout, so the curve is the
  * layout's tuning table.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.RetrievalLadder"
  */
object RetrievalLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").localCheckpoint()
    val queryIds = 0L until 20L
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = queries(0L).length

    // every surface fetches k+1 and drops the self-match, leaving a
    // ranked top-10 of true NEIGHBORS
    val K = 10
    val fetchK = K + 1

    // brute-force truth: the ORDERED top-10 neighbors per query
    val truth: Map[Long, Seq[Long]] = queryIds.map { qid =>
      qid -> VectorSearch.topK(emb, "embedding", queries(qid), fetchK, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
        .filterNot(_ == qid).take(K)
    }.toMap

    /** fetch returns the surface's RANKED top-(K+1) ids for a query. */
    def score(tag: String)(fetch: Long => Seq[Long]): Unit = {
      val (recSum, mrrSum) = queryIds.foldLeft((0.0, 0.0)) { case ((r, m), qid) =>
        val got = fetch(qid).filterNot(_ == qid).take(K)
        val truthSet = truth(qid).toSet
        val rec = (truthSet & got.toSet).size.toDouble / K
        val mrr = got.zipWithIndex.collectFirst {
          case (id, i) if truthSet(id) => 1.0 / (i + 1)
        }.getOrElse(0.0)
        (r + rec, m + mrr)
      }
      println(f"[ladder] $tag recall@10=${recSum / queryIds.size}%.3f mrr@10=${mrrSum / queryIds.size}%.3f")
    }

    def ids(df: org.apache.spark.sql.DataFrame, idCol: String = "vec_id"): Seq[Long] =
      df.select(idCol).collect().map(_.getLong(0)).toSeq

    score("brute")(qid => truth(qid))

    // IVF at the sf0.1 operating point (SCALE.md: nLists=8, nProbe=6)
    val ivf = VectorSearch.buildIvf(emb, "embedding", nLists = 8)
    score("ivf_n8_p6")(qid =>
      ids(ivf.annTopK(queries(qid), fetchK, col("vec_id"), nProbe = 6)))
    ivf.indexed.unpersist()

    // persisted single-table LSH at the recall-safe radius (16 bits, r=8)
    val lshDir = java.nio.file.Files.createTempDirectory("ladder-lsh").toString + "/idx"
    val lshIdx = VectorSearch.buildLshIndex(
      emb, "embedding", VectorSearch.SimHashLsh(nBits = 16, dim = dim))
    VectorSearch.writeLsh(lshIdx, lshDir)
    val lshLoaded = VectorSearch.loadLsh(spark, lshDir)
    score("lsh_persisted_16b_r8")(qid =>
      ids(lshLoaded.annTopK(queries(qid), fetchK, col("vec_id"), maxHamming = 8)))

    // banded multi-table LSH: recall vs L at both band widths — the
    // layout's tuning curve (every probe reads exactly L leaves)
    val bandedGrid = Seq(6 -> 4, 6 -> 8, 6 -> 12, 6 -> 16, 6 -> 32,
      8 -> 4, 8 -> 8, 8 -> 12, 8 -> 16)
    for ((bits, l) <- bandedGrid) {
      val bDir = java.nio.file.Files.createTempDirectory(s"ladder-b$bits-$l").toString + "/idx"
      val built = VectorSearch.buildBandedLsh(
        emb, "vec_id", "embedding", dim, numTables = l, bandBits = bits)
      VectorSearch.writeBandedLsh(built, bDir)
      val loaded = VectorSearch.loadBandedLsh(spark, bDir)
      score(f"banded_b${bits}_L$l%02d")(qid =>
        ids(loaded.annTopK(queries(qid), fetchK, col("vec_id"))))
    }

    // calibrateBandedLMulti: the datasheet row is GENERATED, not hand-solved
    // (VERDICT r10 #4) — calibrate L for two recall targets at b=6, then
    // measure the calibrated index. Calibration and measurement here both
    // use the INCLUSIVE convention (query vector is a corpus row and its
    // self-match counts — identical vectors always share every bucket),
    // the same convention as the VectorFunctionsSpec floors.
    val exactInclusive: Map[Long, Set[Long]] = queryIds.map { qid =>
      qid -> VectorSearch.topK(emb, "embedding", queries(qid), K, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap
    val calibrated = VectorSearch.calibrateBandedLMulti(
      emb, "vec_id", "embedding", bandBits = 6, recallTargets = Seq(0.5, 0.7), k = K)
    for (target <- Seq(0.5, 0.7)) {
      val l = calibrated(target)
      val idx = VectorSearch.buildBandedLsh(
        emb, "vec_id", "embedding", dim, numTables = l, bandBits = 6)
      val measured = queryIds.map { qid =>
        val got = idx.annTopK(queries(qid), K, col("vec_id"))
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (exactInclusive(qid) & got).size.toDouble / K
      }.sum / queryIds.size
      println(f"[ladder] calibrated_b6_target$target%.1f L=$l measured_recall@10=$measured%.3f (inclusive)")
    }


    // SQ8 integer-dot search (the q_sq8_ann surface: raw vectors, dot
    // ranking dequantized per-vector)
    val q8 = VectorSearch.quantizeInt8(emb, "vec_id", "embedding").localCheckpoint()
    val q8Rows = q8.where(col("id").isin(queryIds: _*))
      .select("id", "qvec", "mx").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getDouble(2))).toMap
    score("sq8")(qid =>
      ids(VectorSearch.topKInt8(q8, q8Rows(qid)._1, q8Rows(qid)._2, fetchK), "id"))

    // MRL truncated-prefix retrieval at 16 and 32 of 64 dims
    for (dims <- Seq(16, 32)) {
      score(s"mrl_$dims")(qid =>
        ids(VectorSearch.matryoshkaTopK(emb, "vec_id", "embedding", queries(qid), dims, fetchK)))
    }

    // PQ ADC (q_pq_trained surface): recall cost of 8x16 product
    // quantization ALONE — embeddings are unit vectors, so ADC's L2
    // ranking is cosine ranking and the rows compare directly to truth
    var pq3: VectorSearch.PqModel = null
    var codes3: org.apache.spark.sql.DataFrame = null
    for (iters <- Seq(1, 3)) {
      val pq = VectorSearch.pqFit(emb, "vec_id", "embedding", nSub = 8, k = 16, iters = iters)
      val codes = VectorSearch.pqEncode(pq, emb, "vec_id", "embedding").localCheckpoint()
      if (iters == 3) { pq3 = pq; codes3 = codes }
      score(s"pq_adc_8x16_it$iters")(qid =>
        ids(VectorSearch.pqSearch(pq, codes, queries(qid).toSeq, fetchK), "id"))
    }
    // the resolution knob: 6-bit codebooks (8x64) double the code bytes
    // vs 8x16 and buy the recall the 4-bit row leaves on the table
    val pq64 = VectorSearch.pqFit(emb, "vec_id", "embedding", nSub = 8, k = 64, iters = 3)
    val codes64 = VectorSearch.pqEncode(pq64, emb, "vec_id", "embedding").localCheckpoint()
    score("pq_adc_8x64_it3")(qid =>
      ids(VectorSearch.pqSearch(pq64, codes64, queries(qid).toSeq, fetchK), "id"))
    // the production PQ pattern: ADC is a SHORTLIST generator (here 100
    // of 2000 = scan 5% of the float bytes), exact cosine rescans only
    // the shortlist — the row that prices what the 8x16 codes actually
    // cost once rescoring is in the loop
    score("pq_adc_it3_rescore100")(qid => {
      val shortlist = VectorSearch.pqSearch(pq3, codes3, queries(qid).toSeq, 100)
        .select(col("id").as("vec_id"))
      ids(VectorSearch.topK(
        emb.join(shortlist, Seq("vec_id"), "left_semi"),
        "embedding", queries(qid), fetchK, col("vec_id")))
    })
    // IVF-PQ (q_ivfpq surface): quantization + cell pruning at the IVF
    // operating point — the gap to the pq_adc row above is what pruning
    // costs on top of quantization
    val km = graft.operators.Clustering.kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    val codesCell = VectorSearch.pqEncode(pq3,
      graft.operators.Clustering.assignWith(km, emb, "embedding"), "vec_id", "embedding",
      keepCols = Seq("cluster")).localCheckpoint()
    score("ivfpq_n8_p6")(qid => {
      val probes = graft.operators.Clustering.nearestCentroids(km, queries(qid).toSeq, 6)
      ids(VectorSearch.pqSearch(pq3,
        codesCell.where(col("cluster").isin(probes: _*)),
        queries(qid).toSeq, fetchK), "id")
    })

    // ==================================================================
    // The 0.9-recall operating point (VERDICT r12 #7): calibrate L for
    // 0.9 at b=6 (the datasheet's hand-fit said L ≈ 64+ on this corpus),
    // measure recall AND per-query probe wall at that L, then price the
    // competing 0.9 path — PQ-ADC shortlist + exact rescore at the
    // smallest shortlist that clears 0.9 — and brute force as the
    // reference wall. All recalls inclusive (the calibration convention);
    // walls are the median of the 20 probes after one warm probe.
    // ==================================================================
    def medianWall(probe: Long => Unit): Double = {
      probe(queryIds.head) // warm: codegen + broadcast
      val walls = queryIds.map { qid =>
        val t0 = System.nanoTime()
        probe(qid)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      walls(walls.size / 2)
    }
    def inclusiveRecall(fetch: Long => Set[Long]): Double =
      queryIds.map(qid => (exactInclusive(qid) & fetch(qid)).size.toDouble / K)
        .sum / queryIds.size

    val cal09 = VectorSearch.calibrateBandedLMulti(
      emb, "vec_id", "embedding", bandBits = 6, recallTargets = Seq(0.9), k = K, maxL = 256)
    val l09 = cal09(0.9)
    val banded09 = VectorSearch.buildBandedLsh(
      emb, "vec_id", "embedding", dim, numTables = l09, bandBits = 6)
    val banded09Recall = inclusiveRecall(qid =>
      banded09.annTopK(queries(qid), K, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet)
    val banded09Wall = medianWall(qid =>
      banded09.annTopK(queries(qid), K, col("vec_id")).collect(): Unit)
    println(f"[ladder] target0.9 banded b=6 L=$l09 measured_recall@10=$banded09Recall%.3f " +
      f"probe_wall_median=$banded09Wall%.3fs probed_fraction<=${math.min(1.0, l09 / 64.0)}%.2f")

    // PQ-ADC + rescore: smallest shortlist (of the 8x16 it3 codes) that
    // clears 0.9 inclusive — then its probe wall
    val corpusN = emb.count()
    def pqRescoreFetch(s: Int)(qid: Long): Set[Long] = {
      val shortlist = VectorSearch.pqSearch(pq3, codes3, queries(qid).toSeq, s)
        .select(col("id").as("vec_id"))
      VectorSearch.topK(
          emb.join(shortlist, Seq("vec_id"), "left_semi"),
          "embedding", queries(qid), K, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val short09 = Seq(100, 200, 400, 800, 1200)
      .find(s => inclusiveRecall(pqRescoreFetch(s)) >= 0.9)
    short09 match {
      case None => println("[ladder] target0.9 pq_adc_rescore: no shortlist <= 1200 clears 0.9")
      case Some(s) =>
        val wall = medianWall(qid => pqRescoreFetch(s)(qid): Unit)
        println(f"[ladder] target0.9 pq_adc_rescore shortlist=$s " +
          f"probe_wall_median=$wall%.3fs float_fraction=${s.toDouble / corpusN}%.3f")
    }

    // r18 (VERDICT r17 #5): the GENERATED shortlist answer —
    // calibrateAdcShortlist solves the sweep above from two batched jobs
    // (exact truth + full ADC ranking over its own panel), and the row
    // then MEASURES the returned operating point on the ladder's panel
    // (a different query set — a genuine out-of-sample delivery check).
    val calShort = VectorSearch.calibrateAdcShortlist(
      pq3, codes3, emb, "vec_id", "embedding", recallTarget = 0.9, k = K,
      nQueries = 20, maxShortlist = 2048)
    val calShortRecall = inclusiveRecall(pqRescoreFetch(calShort))
    val calShortWall = medianWall(qid => pqRescoreFetch(calShort)(qid): Unit)
    println(f"[ladder] target0.9 pq_adc_rescore CALIBRATED shortlist=$calShort " +
      f"measured_recall@10=$calShortRecall%.3f probe_wall_median=$calShortWall%.3fs " +
      f"float_fraction=${calShort.toDouble / corpusN}%.3f")
    val bruteWall = medianWall(qid =>
      VectorSearch.topK(emb, "embedding", queries(qid), K, col("vec_id")).collect(): Unit)
    println(f"[ladder] target0.9 brute_force probe_wall_median=$bruteWall%.3fs (recall 1.0 by definition)")

    // ==================================================================
    // Hybrid-RRF quality rows (VERDICT r10 #6): the flagship composite
    // Q3 finally gets a measured row next to its single-surface legs.
    // Protocol: known-item retrieval over the documents corpus — each
    // probe is a 6-word mid-document slice of one of 20 source docs;
    // the query VECTOR is the engine's own hashing embedder on the
    // slice (the Retriever query path, U7), corpus vectors the same
    // embedder on full docs; the query TEXT feeds BM25. The relevant
    // item is the source document; metric = hit@10 and MRR@10 of
    // finding it among all docs. RRF fuses each leg's top-10.
    // ==================================================================
    import graft.operators.{Embedder, FtsIndex, HybridSearch}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    val embCfg = graft.EmbeddingConfig()
    val docVecs = Embedder.withEmbedding(docs, "text", "embedding", embCfg)
      .select("doc_id", "embedding").localCheckpoint()
    val ftsIdx = FtsIndex.build(docs, "doc_id", "text")
    ftsIdx.postings.count()
    val provider = Embedder.provider(embCfg)
    val probeIds = 0L until 20L
    val probes: Map[Long, String] = docs.where(col("doc_id").isin(probeIds: _*))
      .select("doc_id", "text").collect()
      .map { r =>
        val words = r.getString(1).split(" ")
        // first 60% of the doc's words: the corpus is a small-vocabulary
        // bag-of-words, so short slices carry no identity — a degraded
        // MAJORITY sample is the point where single surfaces are
        // imperfect and fusion has signal to work with
        r.getLong(0) -> words.take(math.max(6, words.length * 6 / 10)).mkString(" ")
      }.toMap

    def scoreKnownItem(tag: String)(fetch: Long => Seq[Long]): Unit = {
      val (hitSum, mrrSum) = probeIds.foldLeft((0.0, 0.0)) { case ((h, m), pid) =>
        val got = fetch(pid).take(K)
        val rank = got.indexOf(pid)
        (h + (if (rank >= 0) 1.0 else 0.0), m + (if (rank >= 0) 1.0 / (rank + 1) else 0.0))
      }
      println(f"[ladder] $tag hit@10=${hitSum / probeIds.size}%.3f mrr@10=${mrrSum / probeIds.size}%.3f (known-item)")
    }

    def vecLeg(pid: Long): org.apache.spark.sql.DataFrame =
      VectorSearch.topK(docVecs, "embedding", provider.embedOne(probes(pid)), K, col("doc_id"))
        .select(col("doc_id"), col("score"))
    def bmLeg(pid: Long): org.apache.spark.sql.DataFrame =
      FtsIndex.search(spark, ftsIdx, probes(pid), K)
        .select(col("doc_id"), col("score"))

    scoreKnownItem("known_vector_only")(pid => ids(vecLeg(pid), "doc_id"))
    scoreKnownItem("known_bm25_only")(pid => ids(bmLeg(pid), "doc_id"))
    scoreKnownItem("known_hybrid_rrf")(pid =>
      ids(HybridSearch.rrf(vecLeg(pid), bmLeg(pid), "doc_id", "score", K), "doc_id"))

    // ==================================================================
    // Façade ADC row (VERDICT r13 #4): the measured 0.9-recall operating
    // point driven THROUGH Retriever.adcSearch / SearchMode.Adc — a real
    // warehouse chunks table, a persisted writePq artifact, the loaded
    // codebook, the shortlist, the exact rescore. Recall is scored
    // against the façade's own exact vectorSearch on the same queries,
    // so the row prices exactly what switching a production retriever
    // from Vector to Adc mode costs in quality and buys in wall.
    // ==================================================================
    val whDir = java.nio.file.Files.createTempDirectory("ladder-wh").toString
    val cfgR = graft.GraftConfig(warehouseDir = whDir)
    val catR = new graft.sources.Catalog(spark, whDir)
    catR.append(
      Embedder.withEmbedding(docs, "text", "embedding", embCfg)
        .select(
          col("doc_id").cast("string").as("id"),
          col("doc_id").cast("string").as("document_id"),
          concat(lit("doc "), col("doc_id")).as("document_title"),
          col("text"),
          lit(null).cast("string").as("section_h1"),
          lit(null).cast("string").as("section_h2"),
          lit(0).as("chunk_index"),
          col("embedding")),
      "chunks")
    val chunksR = catR.read("chunks")
    val pqFacade = VectorSearch.pqFit(chunksR, "id", "embedding", nSub = 8, k = 16, iters = 3)
    // inside the per-run temp warehouse — `$whDir/..` is the shared system
    // temp dir, where concurrent/successive runs would clobber each other
    val pqDirR = s"$whDir/pq_index"
    VectorSearch.writePq(
      pqFacade, VectorSearch.pqEncode(pqFacade, chunksR, "id", "embedding"), pqDirR)
    val pipeR = new graft.pipeline.Pipeline(spark, cfgR)
    val retR = new graft.pipeline.Retriever(spark, pipeR, cfgR, pqIndexPath = Some(pqDirR))
    def retIds(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("id").collect().map(_.getString(0)).toSet
    for (shortlist <- Seq(100, 400, 800)) {
      val rec = probeIds.map { pid =>
        val exact = retIds(retR.vectorSearch(probes(pid), K))
        val adc = retIds(retR.adcSearch(probes(pid), K, shortlist = shortlist))
        (exact & adc).size.toDouble / K
      }.sum / probeIds.size
      val wall = medianWall(pid => retR.adcSearch(probes(pid), K, shortlist = shortlist).collect(): Unit)
      println(f"[ladder] facade_adc shortlist=$shortlist recall_vs_exact@10=$rec%.3f " +
        f"probe_wall_median=$wall%.3fs")
    }
    val vecWall = medianWall(pid => retR.vectorSearch(probes(pid), K).collect(): Unit)
    println(f"[ladder] facade_vector_exact probe_wall_median=$vecWall%.3fs (recall 1.0 by definition)")
    spark.stop()
  }
}
