package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.CorpusHygiene

class CorpusHygieneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("scrubPii replaces emails, phones, and IPs with typed placeholders") {
    val df = Seq(
      (1L, "contact jane.doe+x@example.com or call 555-123-4567 from 192.168.1.100 today"),
      (2L, "no pii in this sentence at all")
    ).toDF("id", "text")
    val out = df.select(col("id"), CorpusHygiene.scrubPii(col("text")).as("clean"),
      CorpusHygiene.piiCounts(col("text")).as("c")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val clean = out(1L).getString(1)
    assert(clean.contains("<EMAIL>") && clean.contains("<PHONE>") && clean.contains("<IP>"))
    assert(!clean.contains("example.com") && !clean.contains("4567") && !clean.contains("192.168"))
    val counts = out(1L).getStruct(2)
    assert(counts.getInt(0) == 1 && counts.getInt(1) == 1 && counts.getInt(2) == 1)
    assert(out(2L).getString(1) == "no pii in this sentence at all")
  }

  test("duplicateLineFraction: Gopher repetition signal") {
    val df = Seq(
      (1L, "alpha\nbeta\nalpha\nalpha"),     // 4 lines, 2 distinct -> 0.5
      (2L, "one line only"),                  // <= 1 line -> 0.0
      (3L, "a\nb\nc\nd")                      // all distinct -> 0.0
    ).toDF("id", "text")
    val out = df.select(col("id"), CorpusHygiene.duplicateLineFraction(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.5)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.0)
  }

  test("topNgramFraction: max bigram share; short docs score 0.0") {
    val df = Seq(
      (1L, "go go go go"),          // bigrams: "go go" x3 -> 3/3 = 1.0
      (2L, "a b a b a"),            // "a b" x2, "b a" x2 -> 2/4 = 0.5
      (3L, "single")                // < 2 words -> no grams -> 0.0
    ).toDF("id", "text")
    val out = CorpusHygiene.topNgramFraction(df, "id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.5)
    assert(out(3L) == 0.0)
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the eval set") {
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over the lazy dog and more"), // contaminated
      (2L, "completely unrelated content about cooking pasta with tomato sauce here"),
      (3L, "the quick brown cat naps beside the lazy dog every single day")           // shares < 8-gram
    ).toDF("id", "text")
    val bad = CorpusHygiene.contaminatedIds(corpus, "id", "text", evalSet, "text", n = 8)
      .collect().map(_.getLong(0)).toSet
    assert(bad == Set(1L))
    // decontamination is the anti-join on those ids
    val kept = corpus.join(
      CorpusHygiene.contaminatedIds(corpus, "id", "text", evalSet, "text", n = 8), Seq("id"), "left_anti")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("bloom-prefiltered decontamination matches the exact path") {
    // 200 corpus docs, 10 of which embed an eval 5-gram
    val evalSet = Seq(
      (900L, "alpha bravo charlie delta echo"),
      (901L, "golf hotel india juliet kilo")
    ).toDF("id", "text")
    val corpus = (1 to 200).map { i =>
      val base = s"document number $i with filler text token$i about topic${i % 17}"
      val text =
        if (i % 37 == 0) s"$base alpha bravo charlie delta echo trailing words"
        else if (i % 41 == 0) s"leading golf hotel india juliet kilo $base"
        else base
      (i.toLong, text)
    }.toDF("id", "text")

    val exact = CorpusHygiene.contaminatedIds(corpus, "id", "text", evalSet, "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    val bloom = CorpusHygiene.contaminatedIdsBloom(corpus, "id", "text", evalSet, "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "fixture must actually contaminate some docs")
    assert(bloom == exact, "confirm join must erase bloom false positives; bloom has no false negatives")
  }

  test("percentileGate keeps each group's top slice, not a global one") {
    // group a: values 1..10 (top-30% = 8,9,10); group b: values 101..104
    // (an absolute gate at any a-threshold would keep ALL of b)
    val df = ((1 to 10).map(v => ("a", v.toLong, v.toLong)) ++
      (101 to 104).map(v => ("b", v.toLong, v.toLong))).toDF("g", "id", "v")
    val kept = CorpusHygiene.percentileGate(df, "g", "v", "id", minPct = 0.7)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("v"))).toSet
    assert(kept == Set(("a", 8L), ("a", 9L), ("a", 10L), ("b", 104L)), kept.toString)
    // boundary: percent_rank of the max is exactly 1.0; of a singleton 0.0
    val single = Seq(("solo", 1L, 42L)).toDF("g", "id", "v")
    assert(CorpusHygiene.percentileGate(single, "g", "v", "id", 0.5).count() == 0)
    assert(CorpusHygiene.percentileGate(single, "g", "v", "id", 0.0).count() == 1)
  }

  test("contaminationFraction grades partial overlap; short docs score zero over zero") {
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
    val corpus = Seq(
      // grams (n=2): "alpha beta","beta gamma","gamma delta" — all 3 hit
      (1L, "alpha beta gamma delta"),
      // grams: "alpha beta"(hit), "beta zeta", "zeta eta" — 1 of 3
      (2L, "alpha beta zeta eta"),
      // no shared grams
      (3L, "one two three four"),
      // a single word yields zero 2-gram shingles
      (4L, "alpha")
    ).toDF("id", "text")
    val got = CorpusHygiene
      .contaminationFraction(corpus, "id", "text", eval, "text", n = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((3L, 3L, 1.0)), s"got $got")
    assert(got(2L) == ((3L, 1L, 1.0 / 3.0)), s"got $got")
    assert(got(3L) == ((3L, 0L, 0.0)), s"got $got")
    assert(got(4L) == ((0L, 0L, 0.0)), "zero-shingle docs must still appear, scored 0")
  }

  test("blocklistHits: whole-word + phrase occurrence counts, hand-computed") {
    val docs = Seq(
      // normalized: slow query on the table scan path is slow (9 words)
      // "slow" x2, phrase "slow query" x1, "table scan" x1 -> 4 hits, 3 terms
      (1L, "Slow   query on the TABLE scan path is slow"),
      (2L, "all clean here"),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      // overlap: "slow" x2 + "slow query" x1 = 3 hits, 2 distinct terms
      (5L, "slow slow query")
    ).toDF("doc_id", "text")
    val got = graft.operators.CorpusHygiene
      .blocklistHits(docs, "doc_id", "text",
        graft.operators.CorpusHygiene.demoBlocklist)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(1L) == ((9L, 4L, 3L, 4000000L / 9L, 1L)), s"got $got")
    assert(got(2L) == ((3L, 0L, 0L, 0L, 0L)), s"got $got")
    assert(got(3L) == ((0L, 0L, 0L, 0L, 0L)), "empty doc scores zero, stays present")
    assert(got(4L) == ((0L, 0L, 0L, 0L, 0L)), "null text scores zero, stays present")
    assert(got(5L) == ((3L, 3L, 2L, 1000000L, 1L)), s"got $got")
  }

  test("blocklistHits rejects empty and blank term lists") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.operators.CorpusHygiene.blocklistHits(docs, "doc_id", "text", Nil)
    }
    intercept[IllegalArgumentException] {
      graft.operators.CorpusHygiene.blocklistHits(docs, "doc_id", "text", Seq("ok", "  "))
    }
  }
}
