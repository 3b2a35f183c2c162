package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("chunker: empty and whitespace-only input") {
    assert(Chunker.chunk("").isEmpty)
    assert(Chunker.chunk("   \n\n  ").isEmpty)
    assert(Chunker.chunk("# only a header").nonEmpty)
    assert(Chunker.recursiveSplit("", 100, 10).isEmpty)
  }

  test("FTS index over an empty corpus searches to empty, no crash") {
    val idx = FtsIndex.build(emptyDocs, "doc_id", "text")
    assert(idx.numDocs == 0)
    assert(FtsIndex.search(spark, idx, "anything", 5).count() == 0)
  }

  test("dedup operators over empty and single-row corpora") {
    def hammingPairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.hammingPairsFromSigs(DedupSpec.simhash(df, "doc_id", "text"), "id", "simhash", 3)
    assert(Dedup.exactDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashLshPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(hammingPairs(emptyDocs).count() == 0)
    val one = Seq((1L, "a single document here")).toDF("doc_id", "text")
    assert(Dedup.minhashLshPairs(one, "doc_id", "text").count() == 0)
    assert(hammingPairs(one).count() == 0)
    assert(Dedup.ngramJaccardPairs(one, "doc_id", "text").count() == 0)
  }

  test("vector search over empty corpus and empty-ish vectors") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
    assert(VectorSearch.topK(emptyVecs, "vec", Array(1.0f, 2.0f), 5, col("id")).count() == 0)
    val lsh = VectorSearch.SimHashLsh(nBits = 8, dim = 2)
    assert(lsh.annTopK(lsh.withSignature(emptyVecs, "vec"), "vec", Array(1.0f, 2.0f), 5, col("id")).count() == 0)
  }

  test("text analysis on empty strings: no NaN, no crash") {
    val df = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
    val rows = df.select(
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.bpeTokenEstimate(col("text")).as("toks")
    ).collect()
    rows.foreach { r =>
      assert(r.getString(0) == "und")
      assert(!r.getDouble(1).isNaN)
      assert(r.getInt(2) >= 0)
    }
  }

  test("context budget with zero budget selects nothing") {
    val hits = Seq((1L, 5.0, "some words here")).toDF("doc_id", "score", "text")
    assert(ContextAssembly.selectWithinBudget(hits, "score", "doc_id", 0.0).count() == 0)
  }

  test("asof join with empty right side keeps left rows with null asof") {
    val left = Seq((1L, 10L, 100L)).toDF("k", "ts", "lid")
    val right = Seq.empty[(Long, Long, Double)].toDF("k", "ts", "rv")
    val out = AsOfJoin.asofJoin(left, right, "k", "ts", Seq("rv")).collect()
    assert(out.length == 1 && out.head.isNullAt(out.head.fieldIndex("asof_rv")))
  }

  test("range joins: empty band table, zero-width intervals, empty fact side") {
    val fact = Seq(1.0, 50.0).toDF("v")
    val noBands = Seq.empty[(Double, Double, String)].toDF("lo", "hi", "band")
    assert(RangeJoin.bandJoin(fact, "v", noBands, "lo", "hi", 10.0).count() == 0)
    // zero-width [x, x) matches nothing (hi exclusive)
    val degenerate = Seq((50.0, 50.0, "empty")).toDF("lo", "hi", "band")
    assert(RangeJoin.bandJoin(fact, "v", degenerate, "lo", "hi", 10.0).count() == 0)
    val l = Seq((1L, 0.0, 0.0)).toDF("lid", "lo_l", "hi_l") // zero-width left interval
    val r = Seq((2L, -5.0, 5.0)).toDF("rid", "lo_r", "hi_r")
    assert(RangeJoin.overlapJoin(l, "lo_l", "hi_l", r, "lo_r", "hi_r", 10.0).count() == 0,
      "an empty interval overlaps nothing")
  }

  test("sketches: empty inputs produce empty/zero results, never a crash") {
    val empty = Seq.empty[Double].toDF("v")
    assert(Sketches.histogramQuantile(empty, "v", 0.0, 1.0, 10, Seq(0.5)).count() == 0)
    val kmv = Sketches.kmvDistinct(emptyDocs, "text", k = 16).head()
    assert(kmv.getAs[Long]("k_used") == 0L)
    assert(Sketches.kmvDistinctBy(emptyDocs, Seq("doc_id"), "text", 16).count() == 0)
  }

  test("weighted Bernoulli: zero weight always drops, huge weight always keeps") {
    val rows = Seq((1L, 0L), (2L, 3000000000L)).toDF("id", "wt") // 3e9 > 2^31
    val kept = Sampling.weightedBernoulli(rows, "id", "wt", 1, 1000)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L), "w=0 -> P=0; w*rate >= 1 -> P=1 (and no Long overflow)")
  }

  test("round-4 operators: empty inputs produce empty results, never a crash") {
    val emptyEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(GraphOps.pageRank(emptyEdges, "src", "dst", iters = 2).count() == 0)
    assert(TextAnalysis.tfidfTopTerms(emptyDocs, "doc_id", "text", k = 3).count() == 0)
    assert(TextAnalysis.boilerplateCoverage(emptyDocs, "doc_id", "text").count() == 0)
    assert(Sketches.kmvOverlap(emptyDocs, "doc_id", "text", k = 8).count() == 0)
    assert(Sampling.balanceStrata(emptyDocs, "doc_id", "doc_id", 5).count() == 0)
    assert(CorpusHygiene.percentileGate(emptyDocs, "doc_id", "doc_id", "doc_id", 0.5).count() == 0)
    val emptyCands = Seq.empty[(Long, Long, Array[Float], Double)].toDF("qid", "id", "vec", "score")
    assert(VectorSearch.mmrRerank(emptyCands, "qid", "id", "vec", "score", k = 3).count() == 0)
    assert(Curation.snapshotDiff(emptyDocs, emptyDocs, "doc_id", "text").count() == 0)
  }

  test("round-5 operators over empty and degenerate inputs") {
    // empty frame: rank helper must survive zero partitions-with-rows
    assert(TrainingOrder.shuffled(emptyDocs, "doc_id", "s", 4).count() == 0)
    assert(TextAnalysis.unigramSurprisal(emptyDocs, "doc_id", "text").count() == 0)
    assert(VectorSearch.quantizeInt8(
      Seq.empty[(Long, Seq[Float])].toDF("id", "vec"), "id", "vec").count() == 0)
    // single row still ranks 1 and lands in shard 0
    val one = Seq((7L, "x")).toDF("doc_id", "text")
    val r = TrainingOrder.shuffled(one, "doc_id", "s", 4).select("pos", "shard").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 0L)
    // incremental probe against an empty index finds only in-batch pairs;
    // an empty batch probes to nothing
    val dup = "a b c d e f g h i j k l"
    val sigs = Dedup.minhashSignaturePortable(
      Seq((1L, dup), (2L, dup)).toDF("doc_id", "text"), "doc_id", "text")
    val emptySigs = Dedup.minhashSignaturePortable(emptyDocs, "doc_id", "text")
    assert(Dedup.incrementalSigPairs(emptySigs, sigs)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet == Set((1L, 2L)))
    assert(Dedup.incrementalSigPairs(sigs, emptySigs).count() == 0)
    // null text never reaches a signature (no shingles), zorder of nulls is null
    val withNull = Seq((1L, Option.empty[String]), (2L, Some("a b c d"))).toDF("doc_id", "text")
    assert(Dedup.minhashSignaturePortable(withNull, "doc_id", "text").count() == 1)
  }

  test("kmvOverlap with a single group yields no pairs; boilerplate whole-corpus dup") {
    val one = Seq(("g", "v1"), ("g", "v2")).toDF("g", "v")
    assert(Sketches.kmvOverlap(one, "g", "v", k = 8).count() == 0)
    // every doc identical: every gram is boilerplate, coverage = 100%
    val dup = (1L to 4L).map(i => (i, "a b c d e")).toDF("id", "text")
    val cov = TextAnalysis.boilerplateCoverage(dup, "id", "text", n = 3, minDocs = 4)
      .select("coverage_fp").as[Long].collect()
    assert(cov.length == 4 && cov.forall(_ == 1000000L), cov.mkString(","))
  }
}
