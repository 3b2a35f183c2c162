package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.QualityClassifier

class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // two cleanly separated vocabularies: "good" docs vs "spam" docs
  private lazy val docs = Seq(
    (1L, "clear prose with careful argument and cited sources", 1),
    (2L, "careful analysis and clear cited argument in prose", 1),
    (3L, "sources cited and argument in clear careful prose", 1),
    (4L, "buy now cheap pills click here free winner", -1),
    (5L, "winner click free cheap pills buy here now now", -1),
    (6L, "free cheap winner pills click buy now here", -1)
  ).toDF("doc_id", "text", "y")

  test("fit + classify separates disjoint vocabularies perfectly") {
    val m = QualityClassifier.fitCentroid(docs, "doc_id", "text", col("y"), nFeatures = 64)
    assert(m.nPos == 3 && m.nNeg == 3)
    val out = QualityClassifier.classify(docs, "doc_id", "text", m)
      .select("doc_id", "pred").as[(Long, Int)].collect().toMap
    (1L to 3L).foreach(id => assert(out(id) == 1, s"doc $id should classify +1"))
    (4L to 6L).foreach(id => assert(out(id) == -1, s"doc $id should classify -1"))
  }

  test("generalizes: held-out docs from each vocabulary classify correctly") {
    val m = QualityClassifier.fitCentroid(docs, "doc_id", "text", col("y"), nFeatures = 64)
    val unseen = Seq(
      (10L, "prose with argument and sources"),
      (11L, "click pills free buy")
    ).toDF("doc_id", "text")
    val out = QualityClassifier.classify(unseen, "doc_id", "text", m)
      .select("doc_id", "pred").as[(Long, Int)].collect().toMap
    assert(out(10L) == 1 && out(11L) == -1)
  }

  test("token-less documents are scored by the centroid-norm term, not dropped") {
    val m = QualityClassifier.fitCentroid(docs, "doc_id", "text", col("y"), nFeatures = 64)
    val withEmpty = docs.select("doc_id", "text")
      .union(Seq((99L, "   ")).toDF("doc_id", "text"))
    val out = QualityClassifier.classify(withEmpty, "doc_id", "text", m)
    assert(out.count() == 7, "empty-text doc must still get a row")
    val empty = out.where(col("doc_id") === 99L).select("pred").as[Int].head()
    // gap for a zero vector = ||S+||^2*nn^2 - ||S-||^2*np^2; both classes have
    // equal counts and near-equal norms, so just assert it decided something
    assert(empty == 1 || empty == -1)
  }

  test("fit fails loudly on labels that are not +1/-1") {
    val bad = Seq((1L, "a b c", 0), (2L, "d e f", 1)).toDF("doc_id", "text", "y")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fitCentroid(bad, "doc_id", "text", col("y"), nFeatures = 16)
    }
    assert(e.getMessage.contains("label must be +1/-1"))
  }

  test("fit fails loudly when a class is empty") {
    val onesided = Seq((1L, "a b c", 1), (2L, "d e f", 1)).toDF("doc_id", "text", "y")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fitCentroid(onesided, "doc_id", "text", col("y"), nFeatures = 16)
    }
    assert(e.getMessage.contains("need both classes"))
  }

  test("featurize counts hashed unigrams with the shared FTS tokenization") {
    val one = Seq((1L, "Word word WORD other")).toDF("doc_id", "text")
    val rows = QualityClassifier.featurize(one, "doc_id", "text", nFeatures = 1024)
      .collect()
    assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(1L, 3L),
      "lowercased 'word' x3 and 'other' x1 (FTS tokenization folds case)")
  }

  private lazy val domainDocs = Seq(
    (1L, "alpha beta gamma delta alpha beta", "a"),
    (2L, "beta alpha gamma alpha delta beta", "a"),
    (3L, "red green blue yellow red green", "b"),
    (4L, "green red blue red yellow green", "b"),
    (5L, "one two three four one two", "c"),
    (6L, "two one three one four two", "c")
  ).toDF("doc_id", "text", "dom")

  test("fitCentroidK + classifyK assigns disjoint vocabularies to their own class") {
    val m = QualityClassifier.fitCentroidK(domainDocs, "doc_id", "text", col("dom"), 128)
    assert(m.classes.map(_.label) == Seq("a", "b", "c"))
    val out = QualityClassifier.classifyK(domainDocs, "doc_id", "text", m)
      .select("doc_id", "pred_class").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b", 5L -> "c", 6L -> "c"))
  }

  test("classifyK generalizes to held-out docs and routes zero-overlap docs to the zero-vector argmin") {
    val m = QualityClassifier.fitCentroidK(domainDocs, "doc_id", "text", col("dom"), 128)
    val unseen = Seq(
      (10L, "alpha delta gamma"),
      (11L, "blue yellow red"),
      (12L, "totally unseen vocabulary words")
    ).toDF("doc_id", "text")
    val out = QualityClassifier.classifyK(unseen, "doc_id", "text", m)
      .select("doc_id", "pred_class").as[(Long, String)].collect().toMap
    assert(out(10L) == "a" && out(11L) == "b")
    // zero labeled-vocabulary overlap: the zero-vector argmin — the class
    // minimizing norm2_c/n_c^2 — computed identically by hand
    val expected = m.classes
      .map(c => ((c.norm2 * BigInt(1000000000)) / (BigInt(c.n) * BigInt(c.n)), c.label))
      .min._2
    assert(out(12L) == expected)
  }

  test("classifyK ties break on the lexicographically smaller label") {
    // two classes with IDENTICAL centroids: every doc is equidistant
    val twin = Seq(
      (1L, "same words here", "z"),
      (2L, "same words here", "a")
    ).toDF("doc_id", "text", "dom")
    val m = QualityClassifier.fitCentroidK(twin, "doc_id", "text", col("dom"), 64)
    val out = QualityClassifier.classifyK(
      Seq((9L, "same words here")).toDF("doc_id", "text"), "doc_id", "text", m)
      .select("pred_class").as[String].head()
    assert(out == "a")
  }

  test("classifyK: a quotient past the DIV range fails LOUDLY, never silently misroutes") {
    // g = (norm2_c - 2*n_c*dot)*1e9 DIV n_c^2 past 2^63 WRAPS silently in
    // Spark (measured: 1.6e28 DIV 1 = -2.1e17 — not null, not an error),
    // which would hand every argmin to the degenerate class. The
    // truncation-identity guard inside g must turn that wrap into an
    // error. Construct the overflow directly: n=1, one feature sum of
    // 4e9 gives g ~ 1.6e28.
    val huge = QualityClassifier.CentroidKModel.ClassStats(
      "degenerate", n = 1L, sums = Map(0 -> 4000000000L))
    val normal = QualityClassifier.CentroidKModel.ClassStats(
      "normal", n = 2L,
      sums = QualityClassifier
        .featurize(Seq((1L, "plain words here")).toDF("doc_id", "text"), "doc_id", "text", 64)
        .collect().map(r => r.getLong(1).toInt -> r.getLong(2) * 2).toMap)
    val m = QualityClassifier.CentroidKModel(64, Seq(huge, normal))
    val e = intercept[Exception] {
      QualityClassifier.classifyK(
        Seq((9L, "plain words here")).toDF("doc_id", "text"), "doc_id", "text", m)
        .select("pred_class").as[String].head()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("DIV quotient overflow")),
      s"expected the loud overflow error, got: $e")
  }

  test("classify: a decimal(38,0) gap overflow fails LOUDLY, never silently classifies -1") {
    // With ANSI on (Spark 4 default, this session) an overflowing
    // decimal(38,0) product raises; with ANSI off it NULLs, and an
    // unguarded `gap < 0` is false-for-null — every overflowed doc would
    // silently classify -1. The gap guard covers the ansi-off mode;
    // either way the action must FAIL, never score. Construct the
    // overflow directly: normPos2 = Long.MaxValue^2 ~ 8.5e37 fits 38
    // digits as a literal, but the sp2*nn*nn gap term at nNeg=10 is
    // ~8.5e39 — past decimal(38,0).
    val m = QualityClassifier.CentroidModel(
      nFeatures = 16, nPos = 1L, nNeg = 10L,
      sumPos = Map(0 -> Long.MaxValue), sumNeg = Map(1 -> 1L))
    val e = intercept[Exception] {
      QualityClassifier.classify(
        Seq((9L, "plain words here")).toDF("doc_id", "text"), "doc_id", "text", m)
        .select("pred").as[Int].head()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(
      messages(e).exists(s =>
        s.contains("overflow in gap") || s.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      s"expected a loud gap-overflow failure, got: $e")
  }

  test("fitCentroidK fails loudly on null labels") {
    val bad = Seq((1L, "a b", Some("x")), (2L, "c d", None)).toDF("doc_id", "text", "dom")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fitCentroidK(bad, "doc_id", "text", col("dom"), 16)
    }
    assert(e.getMessage.contains("null label"))
  }

  test("fitClassify trains only on the labeledWhere subset") {
    // labels OUTSIDE the subset are inverted garbage; if fit saw them the
    // separation would flip for the held-out half
    val withBadLabels = docs
      .withColumn("y2", when(col("doc_id") <= 3, col("y")).otherwise(col("y") * -1))
    val out = QualityClassifier.fitClassify(
      withBadLabels, "doc_id", "text",
      label = col("y"), labeledWhere = col("doc_id") <= 4,
      nFeatures = 64)
    val preds = out.select("doc_id", "pred").as[(Long, Int)].collect().toMap
    assert(preds(5L) == -1 && preds(6L) == -1,
      "docs 5/6 are spam-vocabulary and must classify -1 even though unlabeled")
  }
}
