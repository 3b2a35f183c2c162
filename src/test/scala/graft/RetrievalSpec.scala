package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{ContextAssembly, FtsIndex, HybridSearch, VectorSearch, HashingEmbedder}

class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark makes distributed data processing simple"),
    (2L, "the cat sat on the mat"),
    (3L, "spark sql query optimization with catalyst"),
    (4L, "gardening tips for spring flowers"),
    (5L, "spark spark spark streaming streaming data")
  ).toDF("doc_id", "text")

  test("hybrid RRF quality floor: fusion stays at the strong leg under a weak leg (sf0.01 known-item)") {
    // SCALE.md's known-item protocol, asserted as a floor (VERDICT r10 #6):
    // known-item retrieval over the sf0.01 documents corpus — each probe
    // is the first 60% of a source doc's words; the query vector is the
    // engine's own hashing embedder on the slice (the Retriever's query
    // path), the query text feeds BM25, RRF fuses the two top-10s. On
    // this small-vocabulary corpus the vector leg is strong and BM25 weak
    // (sf0.1 datasheet: 1.000/0.975 vs 0.550/0.168, hybrid 1.000/0.900):
    // the property worth pinning is that fusion DOES NOT DESTROY the
    // strong leg — hybrid hit@10 must hold the vector leg's hit rate and
    // keep most of its MRR despite the weak keyword votes.
    import graft.operators.Embedder
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    val cfg = EmbeddingConfig()
    val vecs = Embedder.withEmbedding(corpus, "text", "embedding", cfg)
      .select("doc_id", "embedding").localCheckpoint()
    val idx = FtsIndex.build(corpus, "doc_id", "text")
    val provider = Embedder.provider(cfg)
    val probeIds = 0L until 10L
    val probes = corpus.where(col("doc_id").isin(probeIds: _*))
      .select("doc_id", "text").collect()
      .map { r =>
        val w = r.getString(1).split(" ")
        r.getLong(0) -> w.take(math.max(6, w.length * 6 / 10)).mkString(" ")
      }.toMap
    def vecLeg(pid: Long) =
      VectorSearch.topK(vecs, "embedding", provider.embedOne(probes(pid)), 10, col("doc_id"))
        .select(col("doc_id"), col("score"))
    def bmLeg(pid: Long) =
      FtsIndex.search(spark, idx, probes(pid), 10).select(col("doc_id"), col("score"))
    def metrics(fetch: Long => Seq[Long]): (Double, Double) = {
      val (h, m) = probeIds.foldLeft((0.0, 0.0)) { case ((h0, m0), pid) =>
        val rank = fetch(pid).indexOf(pid)
        (h0 + (if (rank >= 0) 1.0 else 0.0), m0 + (if (rank >= 0) 1.0 / (rank + 1) else 0.0))
      }
      (h / probeIds.size, m / probeIds.size)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq
    val (vHit, vMrr) = metrics(pid => ids(vecLeg(pid)))
    val (bHit, bMrr) = metrics(pid => ids(bmLeg(pid)))
    val (hHit, hMrr) = metrics(pid =>
      ids(HybridSearch.rrf(vecLeg(pid), bmLeg(pid), "doc_id", "score", 10)))
    info(f"known-item sf0.01: vector $vHit%.2f/$vMrr%.3f bm25 $bHit%.2f/$bMrr%.3f hybrid $hHit%.2f/$hMrr%.3f")
    assert(vHit >= 0.9, f"protocol sanity: the vector leg must be strong here, got $vHit%.2f")
    assert(hHit >= vHit - 0.1,
      f"hybrid hit@10 $hHit%.2f collapsed below the strong leg $vHit%.2f")
    assert(hMrr >= vMrr * 0.6,
      f"hybrid mrr@10 $hMrr%.3f lost more than 40%% of the strong leg's $vMrr%.3f to the weak leg")
    assert(hMrr >= bMrr,
      f"hybrid mrr@10 $hMrr%.3f must not fall below the weak leg's $bMrr%.3f")
  }

  /** A pipeline over a fresh warehouse whose chunks table is written by
    * [[SparkTestBase.appendChunks]], one file per batch.
    */
  private def tablePipe(name: String): (String, graft.pipeline.Pipeline) = {
    val wh = java.nio.file.Files.createTempDirectory(name).toString
    (wh, new graft.pipeline.Pipeline(spark, GraftConfig(warehouseDir = wh)))
  }
  private lazy val rows = docs.collect().map(r => (r.getLong(0).toString, r.getString(1))).toSeq

  test("incremental append == full rebuild (scores bit-identical, stats exact)") {
    val (wh, pipe) = tablePipe("fts-append")
    try {
      SparkTestBase.appendChunks(wh, rows.take(3): _*)
      pipe.ftsIndex
      SparkTestBase.appendChunks(wh, rows.drop(3): _*)
      val incremental = pipe.ftsIndex
      assert(incremental.retained.length == 2, "the batch must be appended, not folded into one build")
      val full = FtsIndex.build(pipe.catalog.read("chunks"), "id", "text")
      assert(incremental.numDocs == full.numDocs && incremental.totalDocLen == full.totalDocLen)
      assert(incremental.avgDocLen == full.avgDocLen)
      val a = FtsIndex.search(spark, incremental, "spark data", 5).collect().map(r => (r.getString(0), r.getDouble(1)))
      val b = FtsIndex.search(spark, full, "spark data", 5).collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, "append-maintained index must score identically to a rebuild")
      full.postings.unpersist()
    } finally pipe.flush()
  }

  test("a grown chunks table extends the resident index by one fragment; a rewrite releases every fragment") {
    import graft.util.Checkpoints
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (wh, pipe) = tablePipe("fts-leak")
    try {
      SparkTestBase.appendChunks(wh, rows.take(3): _*)
      val base = pipe.ftsIndex
      SparkTestBase.appendChunks(wh, rows.drop(3): _*)
      val extended = pipe.ftsIndex
      assert(extended.numDocs == 5)
      assert(extended.retained.length == 2, "extended index must track its pinned fragments")
      // each fragment is its own pin, held while the index lives
      val pins = extended.retained.map(Checkpoints.pinnedRddIds(_))
      assert(pins.forall(_.nonEmpty) && pins.reduce(_ ++ _).subsetOf(persistent) && pins.distinct.length == 2)
      assert(Checkpoints.pinnedRddIds(base.postings) == pins.head, "the base fragment is the cold build")
      assert(pipe.ftsIndex eq extended, "an unchanged table keeps its entry")
      val hits = FtsIndex.search(spark, pipe.ftsIndex, "streaming", 5).collect()
      assert(hits.map(_.getString(0)).contains("5"), "doc 5 arrived with the second file")

      // another writer rewrites the table: the next call rebuilds over the
      // new files and releases both fragments
      new graft.sources.Catalog(spark, wh).deleteWhere("chunks", col("id") === "2")
      val rebuilt = pipe.ftsIndex
      assert(rebuilt.numDocs == 4 && rebuilt.retained.isEmpty)
      pins.foreach(ids => assert(ids.intersect(persistent).isEmpty, s"fragment pin $ids not released"))
    } finally pipe.flush()
  }

  test("the resident index folds its fragments into one build at its bound; stats stay exact") {
    import graft.util.Checkpoints
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (wh, pipe) = tablePipe("fts-fold")
    val corpus = (1 to 12).map(i => (i.toString, s"doc$i " + Seq.fill(i % 4 + 1)("shared").mkString(" ")))
    try {
      var beforeFold = Set.empty[Int]
      val fragments = corpus.zipWithIndex.map { case (row, i) =>
        if (i == 8) beforeFold = Checkpoints.pinnedRddIds(pipe.ftsIndex.postings)
        SparkTestBase.appendChunks(wh, row)
        pipe.ftsIndex.retained.length
      }
      // the first file's own build (no retained list); one more per file
      // up to the bound of 8; the next file folds every file back into one
      // pinned build
      assert(fragments == Seq(0, 2, 3, 4, 5, 6, 7, 8, 0, 2, 3, 4), fragments)
      assert(beforeFold.size == 8 && beforeFold.intersect(persistent).isEmpty,
        "the fold must release every fragment it replaced")
      val idx = pipe.ftsIndex
      val full = FtsIndex.build(pipe.catalog.read("chunks"), "id", "text")
      assert(idx.numDocs == full.numDocs && idx.totalDocLen == full.totalDocLen && idx.avgDocLen == full.avgDocLen)
      assert(idx.postings.count() == full.postings.count(), "no postings row counted twice")
      full.postings.unpersist()
    } finally pipe.flush()
  }

  test("BM25: term-matching docs rank first; scores positive and ordered") {
    val idx = FtsIndex.build(docs, "doc_id", "text")
    assert(idx.numDocs == 5)
    val hits = FtsIndex.search(spark, idx, "spark data", 5).collect()
    assert(hits.nonEmpty)
    val ids = hits.map(_.getLong(0)).toSeq
    assert(Set(1L, 3L, 5L).contains(ids.head))
    assert(!ids.contains(2L) && !ids.contains(4L))
    val scores = hits.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("scoreAll returns EVERY matching doc — the prefilter contract a truncating search can't give") {
    // Retriever.keywordSearch with a title filter depends on this: the
    // filter must see all scored candidates, or selective filters lose
    // rows that a bounded overfetch cut before filtering.
    val idx = FtsIndex.build(docs, "doc_id", "text")
    val matching = docs.where(col("text").contains("spark")).count()
    assert(matching == 3)
    assert(FtsIndex.scoreAll(spark, idx, "spark").count() == matching)
    assert(FtsIndex.search(spark, idx, "spark", 1).count() == 1, "search(k) truncates")
  }

  test("BM25: empty query yields empty result") {
    val idx = FtsIndex.build(docs, "doc_id", "text")
    assert(FtsIndex.search(spark, idx, "???", 5).count() == 0)
  }

  test("vector topK: self-similarity wins") {
    val e = HashingEmbedder(32)
    val emb = docs
      .as[(Long, String)]
      .map { case (id, t) => (id, t, e.embedOne(t).toSeq) }
      .toDF("doc_id", "text", "vec")
    val q = e.embedOne("spark sql query optimization with catalyst")
    val top = VectorSearch.topK(emb, "vec", q, 3, col("doc_id")).collect()
    assert(top.head.getAs[Long]("doc_id") == 3L)
    assert(top.head.getAs[Double]("score") > 0.99)
  }

  test("LSH signature: identical vectors share signature; ANN finds exact top hit") {
    val e = HashingEmbedder(32)
    val lsh = VectorSearch.SimHashLsh(nBits = 12, dim = 32)
    val emb = docs
      .as[(Long, String)]
      .map { case (id, t) => (id, e.embedOne(t)) }
      .toDF("doc_id", "vec")
    val indexed = lsh.withSignature(emb, "vec")
    val q = e.embedOne("spark makes distributed data processing simple")
    val ann = lsh.annTopK(indexed, "vec", q, 1, col("doc_id"), maxHamming = 6).collect()
    assert(ann.nonEmpty && ann.head.getAs[Long]("doc_id") == 1L)
  }

  test("RRF: doc present in both lists outranks docs in one list at same ranks") {
    val v = Seq((10L, 0.9), (11L, 0.8), (12L, 0.7)).toDF("id", "score")
    val k = Seq((10L, 5.0), (13L, 4.0), (14L, 3.0)).toDF("id", "score")
    val fused = HybridSearch.rrf(v, k, "id", "score", 5).collect()
    assert(fused.head.getAs[Long]("id") == 10L)
    val s10 = fused.head.getAs[Double]("rrf_score")
    assert(math.abs(s10 - (1.0 / 61 + 1.0 / 61)) < 1e-12)
    // a column both lists carry rides along from whichever list holds the id
    val titled = HybridSearch.rrf(v.withColumn("title", concat(lit("t"), $"id")),
      k.withColumn("title", concat(lit("t"), $"id")), "id", "score", 5).collect()
    assert(titled.map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf_score"))).toSeq ==
      fused.map(r => (r.getAs[Long]("id"), r.getAs[Double]("rrf_score"))).toSeq)
    assert(titled.forall(r => r.getAs[String]("title") == s"t${r.getAs[Long]("id")}"))
  }

  test("context budget: longest prefix within budget, formatting matches reference shape") {
    val hits = Seq(
      (1L, 10.0, "ten words " * 5, "Doc A"), // ~10 words -> 13 tokens
      (2L, 9.0, "w " * 100, "Doc B"), // 100 words -> 130 tokens
      (3L, 8.0, "x " * 10, "Doc A")
    ).toDF("doc_id", "score", "text", "title")
    val sel = ContextAssembly.selectWithinBudget(hits, "score", "doc_id", maxTokens = 100)
    val ids = sel.orderBy(desc("score")).select("doc_id").as[Long].collect().toSeq
    assert(ids == Seq(1L), "second doc overflows budget and stops selection (break semantics)")

    val rows = sel.orderBy(desc("score")).collect()
    val ctx = ContextAssembly.formatContext(rows, "title", "text")
    assert(ctx.startsWith("Documents referenced:\n- Doc A"))
    assert(ctx.contains("[Source: Doc A]"))
  }

  test("phrase search: consecutive runs only, order-sensitive, start-position counts") {
    val docs = Seq(
      (1L, "alpha beta gamma"),          // one occurrence
      (2L, "beta alpha"),                // reversed: bag-of-words would match, phrase must not
      (3L, "alpha beta alpha beta"),     // two start positions (shared delimiter)
      (4L, "alpha gamma beta"),          // non-adjacent: no match
      (5L, "Alpha, BETA!")               // tokenizer normalizes case/punct
    ).toDF("doc_id", "text")
    val hits = graft.operators.FtsIndex
      .phraseOccurrences(docs, "doc_id", "text", Seq("alpha", "beta"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 3L -> 2L, 5L -> 1L))

    // three-word phrase: both adjacency joins must hold
    val tri = graft.operators.FtsIndex
      .phraseOccurrences(docs, "doc_id", "text", Seq("alpha", "beta", "gamma"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 1L))
  }

  test("proximity search: ordered, gap-bounded, pair counts") {
    val docs = Seq(
      (1L, "alpha beta"),                      // gap 1: pair
      (2L, "alpha x y z w beta"),              // gap 5: exactly at slop
      (3L, "alpha x y z w v beta"),            // gap 6: beyond slop
      (4L, "beta alpha"),                      // wrong order
      (5L, "alpha x beta alpha beta"),         // pairs: (1,3),(4,5) in-slop; (1,5) gap 4 also
      (6L, "alpha alpha beta")                 // both alphas pair with one beta
    ).toDF("doc_id", "text")
    val hits = graft.operators.FtsIndex
      .proximityOccurrences(docs, "doc_id", "text", "alpha", "beta", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 2L -> 1L, 5L -> 3L, 6L -> 2L))

    // slop=1 degenerates to the adjacent-pair (bigram) count
    val adj = graft.operators.FtsIndex
      .proximityOccurrences(docs, "doc_id", "text", "alpha", "beta", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adj == Map(1L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("hard negatives: same-label excluded, nearest different-label ranked first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // anchor, label 0
      (1L, Array(0.99f, 0.1f), 0),  // same label: excluded even though nearest
      (2L, Array(0.9f, 0.2f), 1),   // different label, very close -> rank 1
      (3L, Array(0.5f, 0.8f), 1),   // different label, farther -> rank 2
      (4L, Array(-1.0f, 0.0f), 2)   // different label, opposite -> rank 3
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.VectorSearch
      .hardNegatives(emb.where($"vec_id" === 0), emb,
        "vec_id", "embedding", "label", "vec_id", "embedding", "label", 3)
      .selectExpr("anchor_id", "transform(top, x -> x.id) AS ids")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got == Map(0L -> List(2L, 3L, 4L)), s"got $got")
  }

  test("snippets: first-hit window, edge-clamped, tokenizer-normalized") {
    val docs = Seq(
      (1L, "a b c hit d e f"),          // centered window
      (2L, "hit x y z"),                // hit at start: left edge clamps
      (3L, "p q r s t u v w hit"),      // hit at end: right edge clamps
      (4L, "no match here"),            // absent: filtered out
      (5L, "zz hit aa hit bb")          // first occurrence wins
    ).toDF("doc_id", "text")
    val got = graft.operators.FtsIndex
      .snippets(docs, "doc_id", "text", "hit", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList.sortBy(_._1)
    assert(got == List(
      (1L, 4L, "b c hit d e"),
      (2L, 1L, "hit x y"),
      (3L, 9L, "v w hit"),
      (5L, 2L, "zz hit aa hit")
    ), s"got $got")
  }

  test("searchMany: single-query batch ranks like search (rounded-score order)") {
    val idx = FtsIndex.build(docs, "doc_id", "text")
    val batch = Seq((100L, "spark data")).toDF("qid", "qtext")
    val many = FtsIndex.searchMany(batch, "qid", "qtext", idx, 5)
      .orderBy("rank").collect()
    val single = FtsIndex.search(spark, idx, "spark data", 5)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), col("doc_id")).collect()
    assert(many.map(_.getAs[Long]("doc_id")).toSeq == single.map(_.getLong(0)).toSeq)
    assert(many.map(_.getAs[Double]("score")).toSeq == single.map(_.getDouble(1)).toSeq)
    assert(many.map(_.getAs[Long]("rank")).toSeq == (1L to many.length))
  }

  test("searchMany: a query's scores are unaffected by other queries in the batch") {
    // the df window runs over vocabulary-filtered postings; a second
    // query sharing (or adding) terms must not perturb document
    // frequencies — batch results for q1 must equal its solo results
    val idx = FtsIndex.build(docs, "doc_id", "text")
    val solo = FtsIndex.searchMany(
      Seq((1L, "spark data")).toDF("qid", "qtext"), "qid", "qtext", idx, 5).collect()
    val batch = FtsIndex.searchMany(
      Seq((1L, "spark data"), (2L, "cat mat spark"), (3L, "streaming")).toDF("qid", "qtext"),
      "qid", "qtext", idx, 5)
      .where(col("query_id") === 1L).collect()
    assert(solo.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet ==
      batch.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet)
  }

  test("searchMany: queries are isolated and a no-term query returns no rows") {
    val idx = FtsIndex.build(docs, "doc_id", "text")
    val out = FtsIndex.searchMany(
      Seq((1L, "gardening"), (2L, "???!!!"), (3L, "cat")).toDF("qid", "qtext"),
      "qid", "qtext", idx, 5)
    val byQ = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQ(1L).map(_.getAs[Long]("doc_id")).toSet == Set(4L))
    assert(!byQ.contains(2L), "a query with no indexable terms must return nothing")
    assert(byQ(3L).map(_.getAs[Long]("doc_id")).toSet == Set(2L))
  }

  test("searchMany: shuffle-join mode (broadcastQueries = false) is bit-identical") {
    val idx = FtsIndex.build(docs, "doc_id", "text")
    val batch = Seq((1L, "spark data"), (2L, "cat"), (3L, "streaming data")).toDF("qid", "qtext")
    val bc = FtsIndex.searchMany(batch, "qid", "qtext", idx, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val sh = FtsIndex.searchMany(batch, "qid", "qtext", idx, 5, broadcastQueries = false)
      .orderBy("query_id", "rank").collect().toSeq
    assert(bc == sh)
  }

  test("searchMany: maxDfFraction prunes common terms from scoring, df stays corpus-wide") {
    // "spark" appears in 3 of 5 docs (df 0.6); "gardening" in 1 (df 0.2).
    // At maxDfFraction = 0.5 the spark term must stop contributing, so a
    // "spark gardening" query ranks ONLY by gardening.
    val idx = FtsIndex.build(docs, "doc_id", "text")
    val out = FtsIndex.searchMany(
      Seq((1L, "spark gardening")).toDF("qid", "qtext"), "qid", "qtext", idx, 5,
      maxDfFraction = 0.5).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(4L),
      s"only the gardening doc may score: ${out.mkString(";")}")
    // and the surviving term's score equals its unpruned score (df was
    // computed before pruning, so pruning cannot inflate idf)
    val unpruned = FtsIndex.searchMany(
      Seq((1L, "gardening")).toDF("qid", "qtext"), "qid", "qtext", idx, 5).collect()
    assert(out.head.getAs[Double]("score") == unpruned.head.getAs[Double]("score"))
  }

  test("searchMany is partition-invariant") {
    val idx = FtsIndex.build(docs.repartition(4), "doc_id", "text")
    val batch = Seq((1L, "spark data"), (2L, "cat"), (3L, "streaming data")).toDF("qid", "qtext")
    val a = FtsIndex.searchMany(batch.repartition(1), "qid", "qtext", idx, 5)
      .orderBy("query_id", "rank").collect().toSeq
    val b = FtsIndex.searchMany(batch.repartition(7), "qid", "qtext", idx, 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b)
  }

  test("hybrid falls back to the vector hits when the resident FTS build fails; a fatal error propagates") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val base = java.nio.file.Files.createTempDirectory("graft-hybrid-fallback").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    Seq("a" -> "# Alpha\n\nspark keyword ranking of resident postings.",
        "b" -> "# Bravo\n\nvector ranking of spark chunk embeddings.").foreach { case (n, body) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in", s"$n.pdf"), s"%PDF-1.4\n$body".getBytes("UTF-8"))
    }
    val cfg = GraftConfig(warehouseDir = s"$base/wh")
    val pipe = new graft.pipeline.Pipeline(spark, cfg)
    pipe.processDirectory(s"$base/in")
    val retriever = new graft.pipeline.Retriever(spark, pipe, cfg)
    val vectorOnly = retriever.vectorSearch("spark ranking", 5).collect().toSeq
    assert(vectorOnly.nonEmpty)

    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val capture = new AbstractAppender("hybrid-fallback", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.synchronized(logged += e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger("graft").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    // resident builds pin through the checkpoint directory; one on a file
    // system that fails makes the next resident FTS build fail
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set("fs.failing.impl", classOf[FailingFs].getName)
    sc.hadoopConfiguration.set("fs.failing.impl.disable.cache", "true")
    sc.setCheckpointDir(s"failing://$base/ckpt")
    try {
      FailingFs.failure = new java.io.IOException("checkpoint store unavailable")
      graft.util.SessionIndices.clear()
      assert(retriever.hybridSearch("spark ranking", 5).collect().toSeq == vectorOnly,
        "hybrid must return the vector-only hits")
      assert(logged.exists(l => l.contains("hybrid_keyword_fallback") && l.contains("checkpoint store unavailable")),
        s"the fallback must be logged: $logged")

      FailingFs.failure = new OutOfMemoryError("simulated")
      graft.util.SessionIndices.clear()
      intercept[OutOfMemoryError](retriever.hybridSearch("spark ranking", 5))
    } finally {
      FailingFs.failure = null
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, None)
      logger.removeAppender(capture)
      logger.setLevel(level)
      graft.util.SessionIndices.clear()
    }
    // with the store back, the keyword leg serves again
    assert(retriever.hybridSearch("spark ranking", 5).collect().length == vectorOnly.length)
  }

  test("hybrid between a batch's index extension and its chunks append ranks only stored chunks") {
    val base = java.nio.file.Files.createTempDirectory("graft-hybrid-inflight").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    (1 to 6).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/in", s"d$i.pdf"),
        s"%PDF-1.4\n# Doc $i\n\nspark ranking note number $i about topic $i.".getBytes("UTF-8"))
    }
    val cfg = GraftConfig(warehouseDir = s"$base/wh")
    val pipe = new graft.pipeline.Pipeline(spark, cfg)
    pipe.processDirectory(s"$base/in")
    val retriever = new graft.pipeline.Retriever(spark, pipe, cfg)
    val before = pipe.ftsIndex
    // a batch whose chunks have landed but whose ledger write and index
    // refresh have not; its ids top the keyword ranking
    val late = pipe.catalog.read("chunks").limit(3).withColumn("id", concat(lit("late-"), col("id")))
      .withColumn("text", lit("spark ranking spark ranking spark ranking")).localCheckpoint()
    pipe.catalog.append(late, "chunks")
    try {
      val stored = pipe.catalog.read("chunks").select("id").as[String].collect().toSet
      val hits = retriever.hybridSearch("spark ranking", 3).select("id").as[String].collect().toSeq
      assert(hits.length == 3 && hits.forall(stored), s"every fused slot must hold a stored chunk: $hits")
      assert(hits.exists(_.startsWith("late-")), s"the keyword leg must see the landed chunks: $hits")
      assert(pipe.ftsIndex.numDocs == before.numDocs + 3 && pipe.ftsIndex.retained.length == 2,
        "the search extended the index by the landed file")
    } finally pipe.flush()
  }
}

/** The local file system under the `failing:` scheme; while `failure` is
  * set, creating a directory throws it (a reliable checkpoint creates its
  * RDD directory on the driver before writing).
  */
class FailingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failing:///")
  override def getScheme: String = "failing"
  override def mkdirs(f: org.apache.hadoop.fs.Path): Boolean = {
    Option(FailingFs.failure).foreach(t => throw t)
    super.mkdirs(f)
  }
}

object FailingFs {
  @volatile var failure: Throwable = null
}
