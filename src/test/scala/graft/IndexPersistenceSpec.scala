package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VectorSearch

/** Storage-backed index forms: the SCALE.md claims made executable —
  * LSH signature prefixes and banded-LSH leaves persisted as
  * parquet partitions so probing is partition pruning, verified in the
  * physical plan.
  */
class IndexPersistenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("LSH index: write/load preserves signatures and planes; extend signs with the loaded planes") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vecs(ids: Range): Seq[(Long, Array[Float])] =
      ids.map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val baseRows = vecs(0 until 60)
    val batchRows = vecs(100 until 120)
    val lsh = VectorSearch.SimHashLsh(nBits = 12, dim = dim, seed = 9L)

    val built = VectorSearch.buildLshIndex(baseRows.toDF("id", "vec"), "vec", lsh)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    VectorSearch.writeLsh(built, dir)
    val loaded = VectorSearch.loadLsh(spark, dir)

    // params sidecar reconstructs the identical signer
    assert(loaded.lsh == lsh, s"params roundtrip drifted: ${loaded.lsh} vs $lsh")
    assert(loaded.vecCol == "vec")
    // every persisted signature equals the driver-side recomputation
    val sigMap = loaded.indexed.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    baseRows.foreach { case (id, v) =>
      assert(sigMap(id) == lsh.signatureOf(v.toIndexedSeq), s"sig mismatch for id=$id")
    }

    // extend signs the batch with the LOADED planes, not fresh ones
    val extended = VectorSearch.extendLsh(loaded, batchRows.toDF("id", "vec"))
    val extMap = extended.indexed.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(extMap.size == 80)
    batchRows.foreach { case (id, v) =>
      assert(extMap(id) == lsh.signatureOf(v.toIndexedSeq), s"batch sig mismatch for id=$id")
    }

    // loaded+extended answers exactly like a fresh index built on the
    // full corpus, at the APPROXIMATE operating point
    val query = batchRows.head._2
    val fresh = VectorSearch.buildLshIndex((baseRows ++ batchRows).toDF("id", "vec"), "vec", lsh)
    def answer(idx: VectorSearch.LshIndex) =
      idx.annTopK(query, 5, col("id"), maxHamming = 3)
        .select(col("id"), round(col("score"), 6).as("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(answer(extended) == answer(fresh),
      "persisted-then-extended index diverged from a fresh build")

    // probing the PERSISTED artifact prunes parquet partitions by
    // signature prefix (the SCALE.md read-shrink claim, made executable)
    val plan = loaded.annTopK(query, 5, col("id"), maxHamming = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("sig_prefix"),
      s"expected partition pruning on sig_prefix in:\n${plan.take(2000)}")

    // and the DOCUMENTED no-op: once the radius reaches the prefix
    // width, every prefix is admitted and the filter is skipped — the
    // recall-safe wide-radius operating point reads all partitions
    // (scaladoc: pruning fraction = sum C(p,i)/2^p; the scale path is
    // longer signatures or multi-index probing, not this prefix)
    val pb = 8.min(lsh.nBits)
    val wideRadius = pb
    val widePlan = loaded.annTopK(query, 5, col("id"), maxHamming = wideRadius)
      .queryExecution.executedPlan.toString
    assert(!widePlan.contains("sig_prefix IN"),
      s"radius >= prefix width must not fabricate a prefix filter:\n${widePlan.take(1500)}")
  }

  test("banded LSH: write/load parity, one-partition probes per table, recall on clustered data") {
    import graft.operators.VectorSearch
    val rnd = new scala.util.Random(13)
    val dim = 16
    val centers = (0 until 5).map(_ => Array.fill(dim)(rnd.nextGaussian() * 5))
    val rows = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 40).map(i => (ci.toLong * 100 + i, c.map(x => (x + rnd.nextGaussian() * 0.15).toFloat)))
    }
    val corpus = rows.toDF("id", "vec")
    val built = VectorSearch.buildBandedLsh(corpus, "id", "vec", dim, numTables = 8, bandBits = 8, seed = 5L)
    val dir = java.nio.file.Files.createTempDirectory("banded-lsh").toString + "/idx"
    VectorSearch.writeBandedLsh(built, dir)
    val loaded = VectorSearch.loadBandedLsh(spark, dir)

    def answer(ix: VectorSearch.BandedLshIndex, q: Array[Float]) =
      ix.annTopK(q, 10, col("id")).select("id").collect().map(_.getLong(0)).toSeq
    val queries = Seq(0L, 105L, 210L, 315L, 420L).map(id => rows.find(_._1 == id).get._2)

    // 1) persisted round-trip answers exactly like the in-memory build
    queries.foreach(q => assert(answer(loaded, q) == answer(built, q),
      "loaded banded index diverged from the fresh build"))

    // 2) the LOADED probe is ONE scan whose OR-of-(tbl, band) predicate
    //    is pure partition pruning — all 8 legs in a single job. The
    //    PartitionFilters entry must carry ALL 8 (tbl AND band)
    //    disjuncts; anything less means some leg reads beyond its leaf.
    // (counted on the expression tree — the plan STRING truncates long
    // filter lists, hiding disjuncts from a regex)
    val probePlan = loaded.annTopK(queries.head, 5, col("id"))
      .queryExecution.sparkPlan
    val scans = probePlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec if s.partitionFilters.nonEmpty => s
    }
    assert(scans.length == 1,
      s"expected ONE partition-pruned scan, found ${scans.length} in:\n${probePlan.toString.take(2000)}")
    val legDisjuncts = scans.head.partitionFilters
      .flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.EqualTo
            if e.left.toString.contains("tbl") => e
      })
      .length
    assert(legDisjuncts == 8,
      s"expected 8 (tbl, band) probe disjuncts, found $legDisjuncts in: ${scans.head.partitionFilters}")

    // 3) recall vs exact on tight clusters: near neighbors agree on most
    //    hyperplanes, so 8 tables of 8 bits recover the top-10 —
    //    the L-tunes-recall contract (miss prob (1 - p^8)^8)
    val recalls = queries.map { q =>
      val exact = VectorSearch.topK(corpus, "vec", q, 10, col("id"))
        .select("id").collect().map(_.getLong(0)).toSet
      (exact & answer(loaded, q).toSet).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"banded recall@10 $mean below 0.8 floor (per-query: $recalls)")
  }

  test("banded LSH write refuses indexes the sidecar cannot round-trip") {
    import graft.operators.VectorSearch
    val corpus = Seq((1L, Array(0.1f, 0.2f)), (2L, Array(0.3f, 0.4f))).toDF("id", "vec")
    val built = VectorSearch.buildBandedLsh(corpus, "id", "vec", dim = 2, numTables = 2, bandBits = 4, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("banded-guard").toString

    // a hand-built index whose bands don't follow the seed + 7919*i
    // derivation would silently round-trip to DIFFERENT signers (the
    // sidecar stores only the head band) — the write must fail loudly.
    // (A UNIFORM shift of every seed still satisfies the head-relative
    // derivation and round-trips fine; the bug is NON-uniform bands.)
    val rogue = built.copy(bands = built.bands.zipWithIndex.map {
      case (b, i) => if (i == 1) b.copy(seed = b.seed + 1) else b
    })
    val e1 = intercept[IllegalArgumentException] {
      VectorSearch.writeBandedLsh(rogue, s"$dir/rogue")
    }
    assert(e1.getMessage.contains("derivation"), e1.getMessage)

    // identifiers the regex-parsed params sidecar cannot represent are
    // rejected rather than written corrupted
    val quoted = built.copy(idCol = "id\"x")
    val e2 = intercept[IllegalArgumentException] {
      VectorSearch.writeBandedLsh(quoted, s"$dir/quoted")
    }
    assert(e2.getMessage.contains("quote"), e2.getMessage)
  }

  test("signature index: write, append a day's batch, probe the loaded artifact") {
    import graft.operators.Dedup
    // the index is a plain parquet artifact: a day's batch appends files
    val dir = java.nio.file.Files.createTempDirectory("sig-index").toString + "/sigs"
    val dup = "one two three four five six seven eight nine ten eleven twelve"
    val day0 = Seq((1L, dup), (2L, "totally different starting corpus text here")).toDF("doc_id", "text")
    val day1 = Seq((10L, dup)).toDF("doc_id", "text")
    val day2 = Seq((20L, dup)).toDF("doc_id", "text")

    Dedup.minhashSignaturePortable(day0, "doc_id", "text").write.parquet(dir)
    val sig1 = Dedup.minhashSignaturePortable(day1, "doc_id", "text")
    val p1 = Dedup.incrementalSigPairs(spark.read.parquet(dir), sig1)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == Set((1L, 10L)), p1.toString)
    sig1.write.mode("append").parquet(dir)

    // day 2 probes the grown index: pairs against BOTH day-0 and day-1 docs
    val sig2 = Dedup.minhashSignaturePortable(day2, "doc_id", "text")
    val p2 = Dedup.incrementalSigPairs(spark.read.parquet(dir), sig2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((1L, 20L), (10L, 20L)), p2.toString)
    assert(spark.read.parquet(dir).count() == 3)
  }

  // ---- tokenizer persistence (the train-once/apply-forever artifact) ----

  private def tokTrainCorpus = Seq(
    (1L, "the cat sat on the mat and the cat ate"),
    (2L, "a dog sat on a log and the dog ate the bone"),
    (3L, "cats and dogs eat oats and the rats eat oats"),
    (4L, "the theme of the thesis is the theory of the throne")
  ).toDF("doc_id", "text")

  private def tokApplyCorpus = Seq(
    (10L, "the cat and the dog sat"),          // all-trained words
    (11L, "quizzical vexing jumps"),           // chars q/z/x/j unseen in training
    (12L, "oats for rats and cats")
  ).toDF("doc_id", "text")

  test("BPE tokenizer: write/load roundtrips the artifact; loaded encode == fresh encode bit-identically") {
    import graft.operators.TextAnalysis
    val fresh = TextAnalysis.trainBpeTokenizer(tokTrainCorpus, "text", rounds = 6)
    assert(fresh.merges.length == 6)
    val dir = java.nio.file.Files.createTempDirectory("graft-tok-bpe").toString
    TextAnalysis.writeTokenizer(spark, fresh, dir)
    val loaded = TextAnalysis.loadTokenizer(spark, dir)
    assert(loaded == fresh, s"artifact drifted through the roundtrip: $loaded vs $fresh")

    def dump(t: TextAnalysis.BpeTokenizer) =
      TextAnalysis.bpeEncode(t, tokApplyCorpus, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(dump(loaded.asInstanceOf[TextAnalysis.BpeTokenizer]) == dump(fresh))

    // and the loaded-artifact path equals the two-corpus train+encode path
    val direct = TextAnalysis.bpeEncode(tokTrainCorpus, tokApplyCorpus, "doc_id", "text", rounds = 6)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(dump(fresh) == direct)
  }

  test("WordPiece tokenizer: merges AND alphabet survive the roundtrip; unseen chars still [UNK]") {
    import graft.operators.TextAnalysis
    val fresh = TextAnalysis.trainWordPieceTokenizer(tokTrainCorpus, "text", rounds = 6)
    assert(fresh.alphabet.nonEmpty && fresh.alphabet == fresh.alphabet.sorted)
    val dir = java.nio.file.Files.createTempDirectory("graft-tok-wp").toString
    TextAnalysis.writeTokenizer(spark, fresh, dir)
    val loaded = TextAnalysis.loadTokenizer(spark, dir)
    assert(loaded == fresh)

    val rows = TextAnalysis.wordPieceEncode(
        loaded.asInstanceOf[TextAnalysis.WordPieceTokenizer], tokApplyCorpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    val freshRows = TextAnalysis.wordPieceEncode(fresh, tokApplyCorpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.map(_.toSeq).toSeq == freshRows.map(_.toSeq).toSeq)
    // doc 11's q/z/x/j words must be whole-word [UNK] under the LOADED
    // alphabet — the roundtrip bit that merges alone cannot carry
    val unk = rows.find(_.getLong(0) == 11L).get
    assert(unk.getAs[Long]("n_unk") == 3L, unk.toString)
  }

  test("unigram tokenizer: cost table, total and DP shape survive the roundtrip (EM rounds too)") {
    import graft.operators.TextAnalysis
    val fresh = TextAnalysis.trainUnigramTokenizer(tokTrainCorpus, "text", emRounds = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-tok-uni").toString
    TextAnalysis.writeTokenizer(spark, fresh, dir)
    val loaded = TextAnalysis.loadTokenizer(spark, dir)
    assert(loaded == fresh)

    def dump(t: TextAnalysis.UnigramTokenizer) =
      TextAnalysis.unigramTokenCounts(t, tokApplyCorpus, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(dump(loaded.asInstanceOf[TextAnalysis.UnigramTokenizer]) == dump(fresh))
    // the delegating train-and-apply overload and the artifact path agree
    // on the training corpus itself
    val direct = TextAnalysis.unigramTokenCounts(tokTrainCorpus, "doc_id", "text", emRounds = 2)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(direct ==
      TextAnalysis.unigramTokenCounts(fresh, tokTrainCorpus, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("word-histogram lifecycle: O(batch) append, replay collapses on load, retrain == corpus train per family") {
    import graft.operators.TextAnalysis
    val a = tokTrainCorpus
    val b = Seq(
      (5L, "new batch words arrive and the cat naps by the throne"),
      (6L, "more new words for the growing corpus and the theme")
    ).toDF("doc_id", "text")
    val full = a.unionByName(b)
    val dir = java.nio.file.Files.createTempDirectory("graft-word-hist").toString

    TextAnalysis.writeWordHistogram(TextAnalysis.wordHistogram(a, "text"), dir)
    // one batch appended (only B is scanned), then the SAME batch again —
    // the crash-replay shape the batch_key must absorb
    TextAnalysis.appendWordHistogram(b, "text", dir, batchKey = "run#1")
    TextAnalysis.appendWordHistogram(b, "text", dir, batchKey = "run#1")
    val loaded = TextAnalysis.loadWordHistogram(spark, dir)

    def counts(h: TextAnalysis.WordHistogram): Map[String, Long] =
      h.hist.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = counts(TextAnalysis.wordHistogram(full, "text"))
    assert(counts(loaded) == expect, "load must equal one histogram over A ++ B, replay collapsed")

    // retraining each family from the GROWN histogram is bit-identical to
    // training on the concatenated corpus — zero corpus reads at retrain
    assert(TextAnalysis.trainBpeTokenizer(loaded, 6, 10000000L) ==
      TextAnalysis.trainBpeTokenizer(full, "text", rounds = 6))
    assert(TextAnalysis.trainWordPieceTokenizer(loaded, 6, 10000000L) ==
      TextAnalysis.trainWordPieceTokenizer(full, "text", rounds = 6))
    assert(TextAnalysis.trainUnigramTokenizer(loaded, 4, 200, 2L, 2, 16, 10000000L) ==
      TextAnalysis.trainUnigramTokenizer(full, "text", emRounds = 2))
  }

  test("word-histogram loud guards: reserved batch key refused; conflicting counts fail the load") {
    import graft.operators.TextAnalysis
    val a = tokTrainCorpus
    val dir = java.nio.file.Files.createTempDirectory("graft-hist-guard").toString
    TextAnalysis.writeWordHistogram(TextAnalysis.wordHistogram(a, "text"), dir)

    // the initial write's "-" stamp is reserved — an append under it
    // would collide with the base counts
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.appendWordHistogram(a, "text", dir, batchKey = "-")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)

    // batchKey REUSE across DIFFERENT batches writes conflicting counts
    // for shared words — the load must fail loudly, never keep one
    // arbitrary row
    val b1 = Seq((10L, "the cat")).toDF("doc_id", "text")
    val b2 = Seq((11L, "the cat and the dog")).toDF("doc_id", "text")
    TextAnalysis.appendWordHistogram(b1, "text", dir, batchKey = "run#1")
    TextAnalysis.appendWordHistogram(b2, "text", dir, batchKey = "run#1")
    val err = intercept[Exception] {
      TextAnalysis.loadWordHistogram(spark, dir).hist.collect()
    }
    assert(err.getMessage != null &&
      (err.getMessage.contains("conflicting counts") ||
        Option(err.getCause).exists(_.getMessage.contains("conflicting counts"))),
      s"expected the conflicting-counts raise_error, got: ${err.getMessage}")
  }

  test("encodeIds from a LOADED artifact == fresh; the persisted vocab table matches tokenVocab") {
    import graft.operators.TextAnalysis
    def idsDump(f: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      f.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // one roundtrip per family — the id surface is the trainer-facing
    // artifact, so any bit lost here corrupts input_ids silently
    val bpe = TextAnalysis.trainBpeTokenizer(tokTrainCorpus, "text", rounds = 6)
    val wp = TextAnalysis.trainWordPieceTokenizer(tokTrainCorpus, "text", rounds = 6)
    val uni = TextAnalysis.trainUnigramTokenizer(tokTrainCorpus, "text", emRounds = 2)
    Seq(bpe, wp, uni).foreach { fresh =>
      val dir = java.nio.file.Files.createTempDirectory("graft-tok-ids").toString
      TextAnalysis.writeTokenizer(spark, fresh, dir)
      val loaded = TextAnalysis.loadTokenizer(spark, dir)
      assert(TextAnalysis.tokenVocab(loaded) == TextAnalysis.tokenVocab(fresh),
        s"loaded-artifact vocabulary drifted for $fresh")
      loaded match {
        case t: TextAnalysis.BpeTokenizer =>
          assert(idsDump(TextAnalysis.bpeEncodeIds(t, tokApplyCorpus, "doc_id", "text")) ==
            idsDump(TextAnalysis.bpeEncodeIds(bpe, tokApplyCorpus, "doc_id", "text")),
            "loaded-artifact input_ids drifted")
        case _ => ()
      }
      // the engine-neutral vocab table IS the tokenVocab numbering
      val written = spark.read.parquet(s"$dir/vocab").collect()
        .map(r => (r.getAs[Long]("token_id"), r.getAs[String]("token"))).sortBy(_._1).toSeq
      assert(written == TextAnalysis.tokenVocab(fresh), s"vocab table drifted for $fresh")
      assert(written.head == ((0L, TextAnalysis.UnkToken)))
    }
  }

  test("loadTokenizer refuses an unknown family") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft-tok-bad")
    java.nio.file.Files.write(
      dir.resolve("tokenizer.json"),
      """{"family":"sentencepiece"}""".getBytes("UTF-8"))
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.loadTokenizer(spark, dir.toString)
    }
    assert(err.getMessage.contains("unknown tokenizer family"), err.getMessage)
  }
}
