package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ImportanceSampling

class ImportanceSamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // raw corpus: two "science-like" docs, two "spam-like" docs, one short
  private lazy val raw = Seq(
    (1L, "quantum field theory explains particle interactions clearly"),
    (2L, "quantum mechanics and field equations govern particle physics"),
    (3L, "buy cheap pills now best price buy cheap pills now"),
    (4L, "click here free offer click here free offer limited"),
    (5L, "hi") // shorter than a bigram -> score 0
  ).toDF("doc_id", "text")

  // target distribution: more science text (disjoint from raw docs)
  private lazy val target = Seq(
    "quantum theory of the electromagnetic field",
    "particle interactions in quantum field experiments"
  ).toDF("ttext")

  test("ratio weights rank target-like documents above off-target ones") {
    val w = ImportanceSampling.ratioWeights(raw, "text", target, "ttext", n = 2, buckets = 256)
    val scores = ImportanceSampling
      .importanceScores(raw, "doc_id", "text", w, n = 2, buckets = 256)
      .select("doc_id", "score")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(scores(5L) == 0L, "sub-bigram doc must score 0")
    val science = Seq(scores(1L), scores(2L)).min
    val spam = Seq(scores(3L), scores(4L)).max
    assert(science > spam, s"science docs ($science) must outrank spam docs ($spam): $scores")
  }

  test("weight table is exact integer arithmetic on known counts") {
    // one-bucket world makes the formula auditable by hand: every gram
    // lands in the same smoothing regime
    val tinyRaw = Seq((1L, "a b a b")).toDF("doc_id", "text") // 3 bigrams
    val tinyTgt = Seq("a b").toDF("ttext") // 1 bigram
    val w = ImportanceSampling
      .ratioWeights(tinyRaw, "text", tinyTgt, "ttext", n = 2, buckets = 2, scale = 10000L)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // NR=3, NT=1, B=2 -> K = (10000 * 5) div 3 = 16666
    // bucket of "a b": cr=2or3, ct=1; bucket of "b a": cr=1or0, ct=0
    // every emitted weight must equal (10000*(ct+1)*16666) div ((cr+1)*10000)
    val k = (10000L * (3 + 2)) / (1 + 2)
    w.foreach { case (_, wi) =>
      val candidates = for { cr <- 0L to 3L; ct <- 0L to 1L } yield
        (10000L * (ct + 1) * k) / ((cr + 1) * 10000L)
      assert(candidates.contains(wi), s"weight $wi not reachable from the formula")
    }
    assert(w.nonEmpty && w.values.forall(_ >= 0L))
  }

  test("slice weights == two-frame weights when target is a raw slice") {
    val tagged = Seq(
      (1L, "quantum field theory explains particle interactions", true),
      (2L, "buy cheap pills now best price", false),
      (3L, "quantum mechanics and field equations", true),
      (4L, "click here free offer limited", false)
    ).toDF("doc_id", "text", "is_sci")
    val twoFrame = ImportanceSampling
      .ratioWeights(tagged, "text", tagged.where($"is_sci"), "text", n = 2, buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = ImportanceSampling
      .ratioWeightsSlice(tagged, "text", $"is_sci", n = 2, buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoFrame == onePass)
  }
}
