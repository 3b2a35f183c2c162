package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "The quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "The quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup
    (4L, "Completely different content about cooking pasta with tomato sauce and basil"),
    (5L, "the  QUICK   brown fox jumps over the lazy dog near the river bank today") // ws/case dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups normalize case and whitespace") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup
      .minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical docs identical signatures; near dups low hamming") {
    val sigs = DedupSpec.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))

    val pairs = Dedup.hammingPairsFromSigs(DedupSpec.simhash(docs, "doc_id", "text"), "id", "simhash", 3)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.contains((1L, 2L)))
  }

  test("bandRanges partitions all 64 bits into exactly numBands non-empty ranges") {
    for (numBands <- 1 to 64) {
      val ranges = Dedup.bandRanges(numBands)
      assert(ranges.length == numBands, s"numBands=$numBands")
      assert(ranges.forall(_._2 > 0), s"numBands=$numBands: zero-width band")
      val covered = ranges.flatMap { case (lo, w) => lo until (lo + w) }
      assert(covered == (0 until 64), s"numBands=$numBands: must cover [0,64) exactly once")
    }
    // the old ceil-width arithmetic failed here: maxHamming=23 -> 24 bands
    // of width 3 overshoot bit 64 (22 effective bands, pigeonhole broken);
    // maxHamming=16 -> a zero-width band put every row in one bucket
    assert(Dedup.bandRanges(24).map(_._2).sum == 64)
    assert(Dedup.bandRanges(17).forall(_._2 > 0))
  }

  test("simhash banded pairs == brute-force pairs (pigeonhole recall complete) across maxHamming") {
    // 20 docs with overlapping token sets so several pairs land at varied
    // hamming distances; recall must be complete for every maxHamming
    val corpus = (1 to 20).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
      val words = base.take(4 + i % 4) ++ Seq(s"doc$i", s"tail${i % 5}", s"x${i % 3}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sigFrame = DedupSpec.simhash(corpus, "doc_id", "text")
    val sigs = sigFrame.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (maxHamming <- Seq(0, 3, 7, 12, 23)) {
      val expected = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        if ham(sigs(a), sigs(b)) <= maxHamming
      } yield (a, b)).toSet
      val banded = Dedup.hammingPairsFromSigs(sigFrame, "id", "simhash", maxHamming).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(banded == expected, s"maxHamming=$maxHamming: banding must not lose pairs")
    }
    intercept[IllegalArgumentException](Dedup.hammingPairsFromSigs(sigFrame, "id", "simhash", 64))
  }

  test("nearDupClusters: transitive closure to min-id labels; singletons self-labeled") {
    // chain 1-2-3 (transitively one cluster even though (1,3) is no pair),
    // pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.nearDupClusters(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))

    // determinism under different partitioning
    val again = Dedup.nearDupClusters(nodes.repartition(5), "id", pairs.repartition(3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)

    // a longer chain exercises multiple propagation rounds
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainNodes = (1L to 41L).toDF("id")
    val labels = Dedup.nearDupClusters(chainNodes, "id", chain)
      .collect().map(_.getLong(1)).distinct
    assert(labels.toSeq == Seq(1L), "41-node chain collapses to one cluster")
  }

  test("nearDedup keeps exactly the min id of each cluster plus singletons, rows intact") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"), (20L, "f"))
      .toDF("id", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDedup(docs, "id", pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(kept == Map(1L -> "a", 10L -> "d", 20L -> "f"))
  }

  test("write -> load -> nearDedupFromClusters == inline nearDedup; unlabeled docs kept") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"), (20L, "f"))
      .toDF("id", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val inline = Dedup.nearDedup(docs, "id", pairs)
      .collect().map(_.getAs[Long]("id")).toSet

    // the label table as a plain parquet artifact
    val path = java.nio.file.Files.createTempDirectory("graft-clusters").toString + "/labels"
    Dedup.nearDupClusters(docs, "id", pairs).write.parquet(path)
    val labels = spark.read.parquet(path)
    val reused = Dedup.nearDedupFromClusters(docs, "id", labels)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(reused == inline, s"persisted-label dedup diverged: $reused vs $inline")

    // a doc the label table has never seen must survive the anti-join
    val grown = docs.unionByName(Seq((99L, "new")).toDF("id", "payload"))
    val keptGrown = Dedup.nearDedupFromClusters(grown, "id", labels)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(keptGrown == inline + 99L, "unlabeled doc must be its own cluster (kept)")

    // orphaned canonical: with the cluster representative (id 1) filtered
    // out of `docs`, the cluster must fall to its next surviving member
    // (id 2) — not vanish from the corpus
    val withoutCanonical = docs.where(col("id") =!= 1L)
    val keptOrphan = Dedup.nearDedupFromClusters(withoutCanonical, "id", labels)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(keptOrphan == Set(2L, 10L, 20L),
      s"cluster {1,2,3} minus canonical 1 must keep 2, got $keptOrphan")
  }

  test("clustersCached builds once per key and reuses the label table") {
    val nodes = Seq(1L, 2L, 7L).toDF("id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val key = s"spec:clusters-cached-${System.nanoTime()}"
    val first = Dedup.clustersCached(key, nodes, "id", pairs)
    var rebuilt = false
    val second = Dedup.clustersCached(key, { rebuilt = true; nodes }, "id", { rebuilt = true; pairs })
    assert(second eq first, "cache hit must return the same label table instance")
    assert(!rebuilt, "cache hit must not re-evaluate the corpus or the pair plan")
    assert(first.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 7L -> 7L))

    // invalidation must RELEASE the build's checkpoint blocks, not just
    // drop the map entry (Dataset.unpersist can't free checkpoint RDDs)
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.size
    graft.util.SessionIndices.clear()
    assert(sc.getPersistentRDDs.size < pinnedBefore,
      "clearing the registry must unpersist the CC build's checkpoint blocks")
    val third = Dedup.clustersCached(key, nodes, "id", pairs)
    assert(!(third eq first), "a fresh build must follow invalidation")
    assert(third.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    graft.util.SessionIndices.clear()
  }

  test("dedupSpansGlobal keeps only the corpus-wide first occurrence of each span") {
    val docs = Seq(
      (1L, "a b c d e f"),       // spans(k=3): [a b c][d e f] — all first
      (2L, "a b c x y z"),       // [a b c] duplicates doc 1 -> removed
      (3L, "a b c"),             // fully duplicate -> empty clean_text
      (4L, "p q r p q r"),       // within-doc repeat -> second span removed
      (5L, "  g h  i ")          // ragged whitespace; partial span kept
    ).toDF("id", "text")
    val out = Dedup.dedupSpansGlobal(docs, "id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("a b c d e f", 2L, 0L)))
    assert(out(2L) == (("x y z", 2L, 1L)), s"got ${out(2L)}")
    assert(out(3L) == (("", 1L, 1L)), "fully-duplicate doc comes back empty, not dropped")
    assert(out(4L) == (("p q r", 2L, 1L)), "within-doc repeats are removed too")
    assert(out(5L) == (("g h i", 1L, 0L)), "whitespace runs collapse; short tail span kept")
  }

  test("ngram jaccard: dup pair scores 1.0, near pair high, disjoint absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard")))
      .toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("shingles produce distinct word k-grams; short docs drop out") {
    val sh = Seq((1L, "a b"), (2L, "a b c d")).toDF("id", "text")
      .select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[scala.collection.Seq[String]]("sh").toSeq).toMap
    assert(sh(1L).isEmpty)
    assert(sh(2L) == Seq("a b c", "b c d"))
  }

  test("clusterRepresentatives keeps the best-scoring member, not the min id") {
    // cluster 1 = {1, 2, 3} with scores 5, 9, 9 -> id 2 wins (score desc,
    // id asc beats 3); cluster 10 = {10} singleton survives
    val members = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 7L)).toDF("doc_id", "score")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L)).toDF("id", "cluster")
    val kept = Dedup.clusterRepresentatives(members, "doc_id", labels, "score", n = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L), kept.toString)
    // n = 2 keeps the two best; docs missing from the label table drop
    val kept2 = Dedup.clusterRepresentatives(members, "doc_id", labels.where(col("id") =!= 10L),
        "score", n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(2L, 3L), kept2.toString)
  }

  test("incrementalSigPairs: new-vs-index and new-vs-new pairs, never old-vs-old") {
    // old corpus: 1 ~ 2 (identical text -> identical signatures, but an
    // old-old pair must NOT be reported by the incremental pass);
    // new batch: 10 duplicates old 1, 11 duplicates new 10, 12 is unrelated
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val old = Seq((1L, dup), (2L, dup), (3L, "completely different ancient text body here"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, dup), (11L, dup), (12L, "nothing like anything else at all written"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashSignaturePortable(old, "doc_id", "text")
    val sigs = Dedup.minhashSignaturePortable(batch, "doc_id", "text")
    val pairs = Dedup.incrementalSigPairs(index, sigs, bandSize = 4, minEst = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids == Set((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (10L, 11L)), pairs.toString)
    assert(pairs.forall(_._3 == 1.0), s"identical docs estimate 1.0: $pairs")
  }

  test("incrementalSigPairs estimate equals the signature agreement fraction") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("sig", ArrayType(StringType))))
    // 8-slot sigs agreeing on slots 1-4 (band 0) and slot 5: est = 5/8
    val mk = (id: Long, tail: Seq[String]) =>
      Row(id, Seq("h1", "h2", "h3", "h4") ++ tail)
    val index = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(mk(1L, Seq("x5", "x6", "x7", "x8")))), schema)
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(mk(9L, Seq("x5", "y6", "y7", "y8")))), schema)
    val got = Dedup.incrementalSigPairs(index, batch, bandSize = 4, minEst = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 9L, 0.625)), got.toSeq.toString)
    // below the threshold -> dropped even though banded together
    assert(Dedup.incrementalSigPairs(index, batch, bandSize = 4, minEst = 0.7).count() == 0)
    // bandSize wider than the signature: no bands, no candidates — NOT a
    // fabricated descending-sequence band colliding everyone
    assert(Dedup.incrementalSigPairs(index, batch, bandSize = 16, minEst = 0.0).count() == 0)
    // null signature slots (xxhash64 sigs of shingle-less docs) never band
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val nullSchema = StructType(Seq(
      StructField("id", LongType), StructField("sig", ArrayType(StringType))))
    val nullSigs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(100L, Seq(null, null, null, null, null, null, null, null)),
        Row(101L, Seq(null, null, null, null, null, null, null, null)))), nullSchema)
    assert(Dedup.incrementalSigPairs(nullSigs, nullSigs.where(col("id") === 101L),
      bandSize = 4, minEst = 0.0).count() == 0)
  }

  test("streaming: signature index grows across micro-batches, dups surface on arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "an entirely unrelated body of text with no overlap whatsoever here"
    val input = MemoryStream[(Long, String)]
    // the index is a plain DataFrame the driver appends to per batch —
    // at scale this is an append-only parquet table
    var index = Dedup.minhashSignaturePortable(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    index.cache().count()
    val found = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val sigs = Dedup.minhashSignaturePortable(batch, "doc_id", "text")
        sigs.cache().count()
        Dedup.incrementalSigPairs(index, sigs).select("id_a", "id_b").collect()
          .foreach(r => found.synchronized { found += ((r.getLong(0), r.getLong(1))) })
        index = index.unionByName(sigs)
        ()
      }
      .start()
    try {
      input.addData((1L, dup), (2L, other))
      q.processAllAvailable()
      assert(found.isEmpty, s"no dups inside batch 1: $found")
      input.addData((3L, dup))
      q.processAllAvailable()
      assert(found.toSet == Set((1L, 3L)), s"doc 3 dups doc 1 on arrival: $found")
      input.addData((4L, dup))
      q.processAllAvailable()
      // doc 4 pairs with BOTH earlier dups; (1,3) is not re-reported
      assert(found.toSet == Set((1L, 3L), (1L, 4L), (3L, 4L)), found.toString)
    } finally q.stop()
  }

  private def messageChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("incrementalSigPairs fails loudly when index and batch numHashes differ") {
    // band 0 (slots 1-4) matches, so the pair IS a candidate; the zipped
    // agreement count would silently truncate to the shorter signature
    // without the guard
    val index = Seq((1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))).toDF("id", "sig")
    val batch = Seq((2L, Seq(1L, 2L, 3L, 4L, 9L, 9L, 9L, 9L, 9L, 9L, 9L, 9L)))
      .toDF("id", "sig")
    val ex = intercept[Throwable] {
      Dedup.incrementalSigPairs(index, batch, bandSize = 4, minEst = 0.0).collect()
    }
    assert(messageChain(ex).contains("signature length mismatch"), messageChain(ex))
  }
}

object DedupSpec {

  /** 64-bit SimHash over word unigrams: the per-bit majority vote of the
    * xxhash64 of each distinct token, weighted by its count.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("id"), explode(graft.functions.TextFunctions.ftsTokens(col(textCol))).as("tok"))
      .groupBy("id", "tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("tok")))
    val bitCols = (0 until 64).map { bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(lit(1L)) === 1L, col("cnt")).otherwise(-col("cnt"))).as(s"b$bit")
    }
    val sigExpr = (0 until 64)
      .map(bit => when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    hashed.groupBy("id").agg(bitCols.head, bitCols.tail: _*).select(col("id"), sigExpr.as("simhash"))
  }
}
