package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "der hund ist nicht mit der katze und das ist gut"),
      (3L, "le chat est dans la maison et les fleurs pour une fete"),
      (4L, "xyzzy qwerty plugh") // no stopwords
    ).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "fr")
    assert(got(4L) == "und")
  }

  test("quality score ranks clean prose above garbage") {
    val df = Seq(
      (1L, "This is a perfectly reasonable paragraph of English text with normal words and sensible structure throughout the entire document body."),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      (3L, "x")
    ).toDF("id", "text")
    val s = df.select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L))
    assert(s(1L) > s(3L))
  }

  test("bpe-ish token estimate: long words cost extra tokens") {
    val df = Seq(
      (1L, "short words only here"),
      (2L, "antidisestablishmentarianism supercalifragilistic")
    ).toDF("id", "text")
    val n = df.select(col("id"), TextAnalysis.bpeTokenEstimate(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(n(1L) == 4)
    assert(n(2L) > 2, s"long words should exceed word count, got ${n(2L)}")
  }

  test("fingerprint stable under duplicate text, differs across texts") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different content in this document")
    ).toDF("id", "text")
    val fp = df.select(col("id"), TextAnalysis.fingerprintPortable(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("quality gate reasons mirror the reference threshold order") {
    val df = Seq(
      (1L, "word " * 30, 1), // 150 chars, 30 words -> ok
      (2L, "hi", 1), // low char density
      (3L, Seq.fill(30)("a" * 20).mkString(" "), 1) // 30 words of 20 chars: avg word len > 15
    ).toDF("id", "text", "pages")
    val got = df.select(
      col("id"),
      coalesce(TextFunctions.qualityFallbackReason(col("text"), col("pages")), lit("ok")).as("gate")
    ).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "ok")
    assert(got(2L) == "low_char_density")
    assert(got(3L) == "no_word_boundaries")
  }

  test("title cleanup matches the reference docstring examples") {
    val df = Seq(
      "EP001 Nutrition During Pregnancy.pdf",
      "FF633 COVID-19 and Pregnancy.pdf",
      "Guide_042022.pdf"
    ).toDF("f")
    val got = df.select(TextFunctions.titleFromFilename(col("f"))).as[String].collect().toSeq
    assert(got == Seq("Nutrition During Pregnancy", "COVID-19 and Pregnancy", "Guide"))
  }

  test("bigramLift ranks a true collocation above independent co-occurrences") {
    // "new york" always together (lift >> 1); "the cat/dog/car" spread out
    val docs = (1 to 30).map { i =>
      val filler = s"the ${Seq("cat", "dog", "car")(i % 3)} sat near item$i"
      (i.toLong, s"$filler new york $filler")
    }.toDF("id", "text")
    val out = TextAnalysis.bigramLift(docs, "text", minCount = 5, k = 5).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert((top.getAs[String]("w1"), top.getAs[String]("w2")) == ("new", "york"),
      out.map(r => (r.getString(0), r.getString(1), r.getAs[Double]("lift"))).mkString(";"))
    // lift of a perfect pair: c_ab=30, c_a=c_b=30 -> lift = N/30 > 1
    assert(top.getAs[Double]("lift") > 1.0)
    // single-word docs must not break the gram builder
    val tiny = Seq((1L, "word"), (2L, "")).toDF("id", "text")
    assert(TextAnalysis.bigramLift(tiny, "text", minCount = 1, k = 5).count() == 0)
  }

  test("vocabCoverage ranks by count then word; cum_frac reaches the corpus total") {
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("id", "text")
    // counts: a=3, b=2, c=1; total 6
    val out = TextAnalysis.vocabCoverage(docs, "text", k = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1, "a", 3L, 3.0 / 6),
      (2, "b", 2L, 5.0 / 6),
      (3, "c", 1L, 1.0)
    ), out.mkString(";"))
    // k larger than the vocabulary truncates cleanly
    assert(TextAnalysis.vocabCoverage(docs, "text", k = 100).count() == 3)
  }

  test("tfidfTopTerms surfaces rare terms over common ones") {
    // "shared" is in every doc (df=3 -> low idf); "uniqueN" is df=1
    val docs = Seq(
      (1L, "shared shared unique1"),
      (2L, "shared unique2 unique2"),
      (3L, "shared unique3")
    ).toDF("id", "text")
    val out = TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word"))).toMap
    // doc1: shared tf=2 score 2*3/3=2.0; unique1 tf=1 score 1*3/1=3.0
    assert(out == Map(1L -> "unique1", 2L -> "unique2", 3L -> "unique3"), out.toString)
    // fixed-point value check: doc2/unique2 tf=2, N=3, df=1 -> 6e6
    val d2 = TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 1)
      .where(col("doc_id") === 2L).collect().head
    assert(d2.getAs[Long]("score_fp") == 6000000L)
    assert(d2.getAs[Long]("tf") == 2L)
  }

  test("tfidfTopTerms ties break by word; rn is dense 1..k") {
    val docs = Seq((1L, "b a b a"), (2L, "a b")).toDF("id", "text")
    // doc1: a and b both tf=2, df=2 -> equal scores; 'a' must rank first
    val rows = TextAnalysis.tfidfTopTerms(docs, "id", "text", k = 2)
      .where(col("doc_id") === 1L).orderBy("rn")
      .collect().map(r => (r.getAs[String]("word"), r.getAs[Long]("rn")))
    assert(rows.toSeq == Seq(("a", 1L), ("b", 2L)))
  }

  test("boilerplateCoverage counts repeated-gram positions, zeros for short docs") {
    // gram "x y z" appears in docs 1..4 (df=4 >= minDocs=2 threshold);
    // doc5 too short for any 3-gram; doc6 has no shared grams
    val docs = Seq(
      (1L, "x y z a b"),
      (2L, "c x y z"),
      (3L, "x y z x y z"),
      (4L, "q x y z"),
      (5L, "one two"),
      (6L, "p q r s")
    ).toDF("id", "text")
    val out = TextAnalysis.boilerplateCoverage(docs, "id", "text", n = 3, minDocs = 4)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("total_grams"), r.getAs[Long]("boiler_grams"), r.getAs[Long]("coverage_fp"))))
      .toMap
    assert(out(1L) == ((3L, 1L, 333333L)), out.toString)   // 1/3 covered
    assert(out(2L) == ((2L, 1L, 500000L)))
    // doc3 contains "x y z" at TWO positions (1 and 4) -> both count
    assert(out(3L)._2 == 2L)
    assert(out(5L) == ((0L, 0L, 0L)))
    assert(out(6L) == ((2L, 0L, 0L)))
  }

  test("unigramSurprisal: whole-bit information, hand-computed corpus") {
    // corpus: "a a a b" + "b c" -> counts a=3, b=2, c=1; N=6, bits(6)=3
    // per-token surprisal: a -> 3-2=1, b -> 3-2=1, c -> 3-1=2
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, "id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("surprisal_bits"), r.getAs[Long]("mean_surprisal_fp"))))
      .toMap
    assert(out(1L) == ((4L, 4L, 10000L)), out.toString) // (1+1+1+1)/4
    assert(out(2L) == ((2L, 3L, 15000L)), out.toString) // (1+2)/2 = 1.5
  }

  test("unigramSurprisal separates rare-token-heavy docs from common-token docs") {
    val common = (1L to 40L).map(i => (i, "the cat sat on the mat"))
    val rare = Seq((99L, s"zyxgarble qwfpluv mntrosk"))
    val out = TextAnalysis.unigramSurprisal((common ++ rare).toDF("id", "text"), "id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("mean_surprisal_fp")).toMap
    assert(out(99L) > out(1L), s"rare-token doc must score higher surprisal: $out")
  }

  test("bpeTokenCount: hand-counted GPT-2-style pre-tokenization") {
    val cases = Seq(
      // don | 't | " stop" | "!" | " 123" | " abc"
      ("don't stop! 123 abc", 6L),
      // contractions win at each apostrophe: i|'ll| we|'re| you|'ve| he|'s
      ("I'll we're you've he's", 8L),
      // case folds before the scan; letter and digit runs split
      ("ABC123def", 3L),
      // whitespace not absorbed as a token's leading space is skipped
      ("   spaced    out   ", 2L),
      // wait | "..." | " '" (space-prefixed punct run fires at the space,
      // before the apostrophe position where the contraction would) | tis
      ("wait... 'tis", 4L),
      ("", 0L)
    )
    val got = cases.map(_._1).toDF("text")
      .select(TextFunctions.bpeTokenCount(col("text")).as("n"))
      .as[Long].collect().toSeq
    assert(got == cases.map(_._2), s"got $got, expected ${cases.map(_._2)}")
  }

  test("bpePairStats: hand-computed pair counts — frequency-weighted, word-internal, overlapping") {
    // words: aa x2, aaa x1, ab x1, b x1 (single char: no pairs)
    // pairs: "aa" = 2 (from aa) + 2 (overlapping inside aaa) = 4; "ab" = 1
    val docs = Seq("aa ab aaa", "aa b").toDF("text")
    val out = TextAnalysis.bpePairStats(docs, "text", k = 10).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toSeq
    assert(out == Seq("aa" -> 4L, "ab" -> 1L), s"got $out")
  }

  test("bpePairStats: pairs never cross word boundaries and ranking ties break by pair") {
    // "xy yx" must NOT produce the cross-boundary pair "yy" (or "y y");
    // xy and yx tie at 1 -> lexicographic order
    val docs = Seq("xy yx").toDF("text")
    val out = TextAnalysis.bpePairStats(docs, "text", k = 10).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toSeq
    assert(out == Seq("xy" -> 1L, "yx" -> 1L), s"got $out")
  }

  test("bpeMerges: the classic low/lower/newest/widest walkthrough, 3 rounds") {
    // corpus: low x2, lower x1, newest x3, widest x1 (chars: 2x3+5+3x6+6 = 35)
    // round 1: (e,s) = 3 (newest) + 1 (widest) = 4 -> merge "es", 35-4=31 symbols
    // round 2: (es,t) = 4 -> "est", 27 symbols
    // round 3: n=3 tie between (e,w) [n·e·w·est x3], (l,o), (n,e),
    //   (o,w), (w,est) -> lexicographic -> (e,w); 3 merges -> 24
    val docs = Seq("low low lower", "newest newest newest widest").toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", rounds = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, "e", "s", 4L, 31L),
      (2L, "es", "t", 4L, 27L),
      (3L, "e", "w", 3L, 24L)
    ), s"got $out")
  }

  test("bpeMerges: left-to-right greedy non-overlapping merge inside runs") {
    // word "aaaa" x1: round 1 pair (a,a) counts OVERLAPPING occurrences
    // (3), but the merge applies non-overlapping left-to-right:
    // a a a a -> aa aa (2 symbols), NOT a aa a or aa a a
    val docs = Seq("aaaa").toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, "a", "a", 3L, 2L),
      (2L, "aa", "aa", 1L, 1L)
    ), s"got $out")
  }

  test("bpeTokenCounts: per-doc counts under the trained merges, hand-computed") {
    // corpus: doc 1 = "low low lower", doc 2 = "newest newest newest widest"
    // 2 merges: (e,s) then (es,t) — so newest = n·e·w·est (4 tokens),
    // widest = w·i·d·est (4), low = 3, lower = 5
    val docs = Seq((1L, "low low lower"), (2L, "newest newest newest widest"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", rounds = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 11L, 11L), // 3 words, 3+3+5 chars, no merge touches low/lower
      (2L, 4L, 24L, 16L)  // 4 words, 3x6+6 chars, 4 tokens each after "est"
    ), s"got $out")
  }

  private def mergeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq

  test("bpeMerges golden rows, 6 rounds, tie + overlap corpus") {
    // (round, pair_a, pair_b, n, n_symbols) as the per-round Spark-job
    // training loop emitted them: same overlap counting, same
    // lexicographic tie-break, same greedy apply. Corpus chosen to
    // exercise ties (round 3 of the classic walkthrough) and
    // overlapping runs (aaaa).
    val docs = Seq(
      "low low lower", "newest newest newest widest",
      "aaaa aaaa", "banana bandana").toDF("text")
    assert(mergeRows(TextAnalysis.bpeMerges(docs, "text", rounds = 6)) == Seq(
      (1L, "a", "a", 6L, 52L), (2L, "a", "n", 4L, 48L), (3L, "e", "s", 4L, 44L),
      (4L, "es", "t", 4L, 40L), (5L, "e", "w", 3L, 37L), (6L, "ew", "est", 3L, 34L)))
  }

  test("bpeMerges golden rows on seeded small-alphabet corpora") {
    // the equivalence argument (overlap counting, lexicographic
    // tie-break, greedy apply, rank monotonicity) has subtle corners —
    // seeded random corpora over a 4-letter alphabet (maximizes runs and
    // ties, the hard cases), each pinned to the rows the per-round
    // Spark-job loop emitted
    val golden = Seq(
      Seq((1L, "b", "d", 9L, 98L), (2L, "b", "b", 7L, 92L), (3L, "a", "c", 5L, 87L)),
      Seq((1L, "d", "d", 10L, 74L), (2L, "b", "b", 4L, 71L), (3L, "c", "d", 4L, 67L)),
      Seq((1L, "a", "a", 6L, 109L), (2L, "b", "d", 6L, 103L), (3L, "c", "d", 6L, 97L)),
      Seq((1L, "c", "c", 9L, 108L), (2L, "b", "c", 7L, 101L), (3L, "a", "a", 5L, 96L)),
      Seq((1L, "c", "b", 11L, 111L), (2L, "c", "d", 7L, 104L), (3L, "a", "a", 6L, 99L)))
    val rnd = new scala.util.Random(42)
    golden.zipWithIndex.foreach { case (want, trial) =>
      val docs = (1 to 8).map { _ =>
        (1 to (3 + rnd.nextInt(5))).map { _ =>
          (1 to (1 + rnd.nextInt(5))).map(_ => "abcd".charAt(rnd.nextInt(4))).mkString
        }.mkString(" ")
      }.toDF("text")
      val got = mergeRows(TextAnalysis.bpeMerges(docs, "text", rounds = 3))
      assert(got == want, s"trial ${trial + 1} diverged: $got")
    }
  }

  test("bpeMerges: driver-local vocab bound fails loudly when exceeded") {
    val docs = Seq("one two three four five").toDF("text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trainBpeLocal(docs, "text", rounds = 1, maxVocab = 3L)
    }
    assert(e.getMessage.contains("exceeds the driver-local bound"), e.getMessage)
  }

  test("bpeEncode(train, train) == bpeTokenCounts — the rank-replay encoder cannot drift") {
    val docs = Seq(
      (1L, "low low lower"), (2L, "newest newest newest widest"),
      (3L, "aaaa banana")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val viaJoin = rows(TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", rounds = 4))
    val viaReplay = rows(TextAnalysis.bpeEncode(docs, docs, "doc_id", "text", rounds = 4))
    assert(viaReplay == viaJoin, s"replay $viaReplay != join $viaJoin")
  }

  test("bpeEncode segments OOV words with the trained merges, hand-computed") {
    // train on the classic corpus with 2 merges: (e,s) then (es,t) —
    // so "est" is one token. OOV words: "best" = b·est (2 tokens),
    // "so" = s·o (2: no trained pair applies), "tesla" = t·es·l·a
    // (4: the (e,s) merge applies inside an unseen word, (es,t) does
    // not — "t" precedes "es" here, order matters)
    val train = Seq("low low lower", "newest newest newest widest").toDF("text")
      .withColumn("doc_id", lit(0L))
    val apply = Seq((1L, "best so tesla")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(train, apply, "doc_id", "text", rounds = 2).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 3L, 11L, 8L)), // 3 words, 4+2+5 chars, 2+2+4 tokens
      s"got ${r.toSeq}")
  }

  test("bpeMerges: fails loudly when the vocabulary runs out of pairs") {
    val docs = Seq("a b c").toDF("text") // all single-char words: zero pairs
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeMerges(docs, "text", rounds = 1).collect()
    }
    assert(e.getMessage.contains("exhausted"), e.getMessage)
  }

  test("wordPieceMerges: likelihood argmax diverges from BPE, hand-computed") {
    // vocab: ab x10, xy x3, az x20, bz x20
    //   pair counts: (a,b)=10 (x,y)=3 (a,z)=20 (b,z)=20
    //   symbol counts: a=30 b=30 x=3 y=3 z=40; total symbols 106
    // BPE round 1: max count 20, tie (a,z)/(b,z) -> lex (a,z)
    // WordPiece round 1: scores (a,b)=10/900, (x,y)=3/9, (a,z)=(b,z)=
    //   20/1200 -> (x,y) wins with the SMALLEST raw count; 106-3=103
    // WordPiece round 2: xy merged away -> (a,z)/(b,z) tie at 20/1200 ->
    //   lex (a,z); 103-20=83
    val docs = Seq(
      (List.fill(10)("ab") ++ List.fill(3)("xy")).mkString(" "),
      (List.fill(20)("az") ++ List.fill(20)("bz")).mkString(" ")
    ).toDF("text")
    val bpe = TextAnalysis.bpeMerges(docs, "text", rounds = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(bpe == Seq((1L, "a", "z", 20L, 86L)), s"bpe got $bpe")
    val wp = TextAnalysis.wordPieceMerges(docs, "text", rounds = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(wp == Seq(
      (1L, "x", "y", 3L, 103L),
      (2L, "a", "z", 20L, 83L)
    ), s"wordpiece got $wp")
  }

  test("wordPieceTokenCounts: apply under the likelihood-trained merges") {
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val out = TextAnalysis.wordPieceTokenCounts(docs, "doc_id", "text", rounds = 1).head()
    assert(out.getLong(0) == 1L)
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) == ((3L, 6L, 3L)),
      "three words of two chars each merge to one token apiece")
  }

  test("wordPieceMerges is partition-invariant") {
    val docs = Seq(
      "the cat sat on the mat", "the dog ate the cat food", "mat cat dog dog"
    ).toDF("text")
    val a = TextAnalysis.wordPieceMerges(docs.repartition(7), "text", rounds = 5).collect().toSeq
    val b = TextAnalysis.wordPieceMerges(docs, "text", rounds = 5).collect().toSeq
    assert(a == b)
  }

  test("wordPieceEncode: greedy longest-match, whole-word UNK, hand-computed") {
    // training "abc abc ab": r1 ties (a,b)=3/9 vs (b,c)=2/6 at the same
    // double (1/3) -> lex (a,b) -> "ab"; r2 merges (ab,c) -> "abc".
    // vocab = {a, b, c, ab, abc}
    val train = Seq("abc abc ab").toDF("text").withColumn("doc_id", lit(0L))
    // apply: "abc" -> [abc] (1); "abb" -> [ab, b] (2); "xz" -> [UNK]
    val apply0 = Seq((1L, "abc abb xz")).toDF("doc_id", "text")
    val out = TextAnalysis.wordPieceEncode(train, apply0, "doc_id", "text", rounds = 2).head()
    assert(out.getLong(0) == 1L)
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) == ((3L, 4L, 1L)),
      s"got (${out.getLong(1)}, ${out.getLong(2)}, ${out.getLong(3)})")
  }

  test("wordPieceEncode matches training segmentation counts on the training corpus " +
    "when greedy-by-length and greedy-by-likelihood agree") {
    val docs = Seq((1L, "low low lower"), (2L, "newest newest widest")).toDF("doc_id", "text")
    val infer = TextAnalysis.wordPieceEncode(docs, docs, "doc_id", "text", rounds = 3)
      .orderBy("doc_id").collect()
    // no character is OOV when apply == train
    assert(infer.forall(_.getLong(3) == 0L))
    // longest-match can only produce AT MOST as many tokens as chars
    // and at least n_words
    infer.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "tokens >= words")
    }
  }

  test("unigramTokenCounts: seed-LM Viterbi, hand-computed") {
    // corpus "abab abab cd": weighted substrings -> alphabet a:4 b:4 c:1
    // d:1; len>=2 with cnt>=2: ab:4 ba:2 aba:2 bab:2 abab:2 (cd:1 cut).
    // N = 22, bits(22) = 5; costs: a=b=ab: 2, c=d: 4, ba=aba=bab=abab: 3.
    // Viterbi: "abab" -> [abab] (1 tok, 3 bits; beats [ab,ab] = 4);
    // "cd" -> [c,d] (2 toks, 8 bits).
    val docs = Seq((1L, "abab abab cd")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramTokenCounts(docs, "doc_id", "text").head()
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) == ((3L, 4L, 14L)),
      s"got (${out.getLong(1)}, ${out.getLong(2)}, ${out.getLong(3)})")
  }

  test("unigramTokenCounts: one hard-EM round sharpens the in-use symbols") {
    // usage after the seed segmentation: abab:2, c:1, d:1; add-one over
    // the whole vocab -> N = 13, bits(13) = 4; costs: abab=c=d: 2,
    // everything else 3. Same segmentations, cheaper: 2 + 2 + 4 = 8.
    val docs = Seq((1L, "abab abab cd")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramTokenCounts(docs, "doc_id", "text", emRounds = 1).head()
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) == ((3L, 4L, 8L)),
      s"got (${out.getLong(1)}, ${out.getLong(2)}, ${out.getLong(3)})")
  }

  test("unigramTokenCounts: overlong words fall back to one bits(N) token; partition-invariant") {
    val docs = Seq((1L, "abcde ab ab")).toDF("doc_id", "text")
    // maxWordLen = 4: "abcde" is one fallback token at bits(N)
    val out = TextAnalysis.unigramTokenCounts(docs, "doc_id", "text", maxWordLen = 4).head()
    assert(out.getLong(2) == 1L + 2L, "fallback word is ONE token; each 'ab' is one")
    val big = Seq(
      (0L, "the cat sat on the mat"), (1L, "the dog ate the cat food"), (2L, "mat cat dog dog")
    ).toDF("doc_id", "text")
    val a = TextAnalysis.unigramTokenCounts(big.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.unigramTokenCounts(big, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("bigramLmScore: every branch hand-computed against a held-out LM") {
    // LM corpus "a b a b c": cnt1 = {a:2, b:2, c:1}, n_lm = 5 (bits=3),
    // bigrams = {"a b":2, "b a":1, "b c":1}.
    val lm = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val docs = Seq(
      // a(first,uni: 3-2=1) b(bigram: bits(2)-bits(2)=0) c(bigram:
      // bits(2)-bits(1)=1) z(backoff+OOV: 1+3-1=3) a(backoff: 1+3-2=2)
      (10L, "a b c z a"),
      (11L, "c"), // single token: uni 3-1=2, no penalty
      (12L, "   "), // empty after normalize: drops entirely
      (13L, "q") // first-token OOV: 3-1=2, counts in neither backoff nor oov
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text", lm)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got.keySet == Set(10L, 11L, 13L))
    assert(got(10L) == ((5L, 2L, 1L, 7L, 14000L)))
    assert(got(11L) == ((1L, 0L, 0L, 2L, 20000L)))
    assert(got(13L) == ((1L, 0L, 0L, 2L, 20000L)))
  }

  test("lmBuckets: contiguous rank thirds, sizes differ by at most one, ties broken by id") {
    // 7 rows, scores with a tie at 30 -> rank by (score, id);
    // bucket = ((rk-1)*3) div 7 -> sizes (3, 2, 2)
    val scored = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), (4L, 30L),
      (5L, 50L), (6L, 40L), (7L, 5L)
    ).toDF("doc_id", "mean_lm_fp")
    val got = TextAnalysis.lmBuckets(scored, "mean_lm_fp", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // rank order: 7(5) 1(10) 3(20) 2(30) 4(30) 6(40) 5(50)
    assert(got == Map(7L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 1L, 4L -> 1L,
      6L -> 2L, 5L -> 2L), s"got $got")
  }

  test("bigramLmScore: self-scored corpus never backs off; scrambled text scores higher than fluent") {
    val lm = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox runs past the lazy dog"),
      (3L, "a lazy dog naps under the brown fox")
    ).toDF("doc_id", "text")
    val selfScored = TextAnalysis.bigramLmScore(lm, "doc_id", "text", lm)
      .agg(sum("n_backoff")).head().getLong(0)
    assert(selfScored == 0L, "every in-corpus bigram must hit its own LM")
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // fluent (seen)
      (11L, "dog the fox quick lazy the brown over jumps") // same words scrambled
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(docs, "doc_id", "text", lm)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(5)))).toMap
    assert(got(11L)._1 > 0L, "scrambled word order must back off")
    assert(got(11L)._2 > got(10L)._2,
      s"unseen word order must score higher than fluent: $got")
  }

  test("bpeEncodeIds: ids decode to the replay segmentation; OOV chars are per-symbol <unk>") {
    // train on the classic corpus with 2 merges: (e,s) then (es,t).
    // alphabet (sorted) d,e,i,l,n,o,r,s,t,w -> ids 1..10; es=11, est=12.
    val train = Seq("low low lower", "newest newest newest widest").toDF("text")
    val tok = TextAnalysis.trainBpeTokenizer(train, "text", rounds = 2)
    val vocab = TextAnalysis.tokenVocab(tok)
    assert(vocab.head == ((0L, TextAnalysis.UnkToken)))
    assert(vocab.map(_._1) == (0L until vocab.length.toLong), "ids must be contiguous from 0")
    val byToken = vocab.map { case (id, t) => t -> id }.toMap
    assert(byToken("es") == 11L && byToken("est") == 12L, vocab.toString)
    // "best" -> b·est (b unseen -> <unk>), "so" -> s·o, "tesla" -> t·es·l·a
    val apply = Seq((1L, "best so tesla")).toDF("doc_id", "text")
    val row = TextAnalysis.bpeEncodeIds(tok, apply, "doc_id", "text").collect().head
    assert(row.getAs[Long]("n_tokens") == 8L, row.toString)
    assert(row.getSeq[Long](row.fieldIndex("input_ids")) ==
      Seq(0L, 12L, byToken("s"), byToken("o"), byToken("t"), 11L, byToken("l"), 0L),
      row.toString)
  }

  test("encodeIds: size(input_ids) == the count encoders' n_tokens, all three families, OOV apply") {
    val train = Seq(
      (1L, "the cat sat on the mat and the cat ate"),
      (2L, "a dog sat on a log and the dog ate the bone")).toDF("doc_id", "text")
    val apply = Seq(
      (10L, "the cat and the dog sat"),
      (11L, "quizzical vexing jumps"), // q/z/x/j unseen in training
      (12L, "mats and logs")).toDF("doc_id", "text")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, org.apache.spark.sql.Row] =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def countsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      rowsOf(df).map { case (id, r) => id -> r.getAs[Long]("n_tokens") }
    def sizesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      rowsOf(df).map { case (id, r) => id -> r.getSeq[Long](r.fieldIndex("input_ids")).length.toLong }

    val bpe = TextAnalysis.trainBpeTokenizer(train, "text", rounds = 4)
    assert(sizesOf(TextAnalysis.bpeEncodeIds(bpe, apply, "doc_id", "text")) ==
      countsOf(TextAnalysis.bpeEncode(bpe, apply, "doc_id", "text")))

    // WordPiece and unigram have count encoders only (BPE is the one id
    // encoder with a caller); their n_tokens on the same OOV apply set:
    // every doc scored, at least one token per word, and the q/z/x/j
    // words are whole-word UNK under WordPiece: one token each
    val wp = TextAnalysis.trainWordPieceTokenizer(train, "text", rounds = 4)
    val wpRows = rowsOf(TextAnalysis.wordPieceEncode(wp, apply, "doc_id", "text"))
    assert(wpRows.keySet == Set(10L, 11L, 12L), wpRows.toString)
    assert(wpRows.values.forall(r => r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words")))
    val unkDoc = wpRows(11L)
    assert(unkDoc.getAs[Long]("n_tokens") == 3L && unkDoc.getAs[Long]("n_unk") == 3L, unkDoc.toString)

    val uni = TextAnalysis.trainUnigramTokenizer(train, "text", emRounds = 1)
    val uniRows = rowsOf(TextAnalysis.unigramTokenCounts(uni, apply, "doc_id", "text"))
    assert(uniRows.keySet == Set(10L, 11L, 12L), uniRows.toString)
    assert(uniRows.values.forall(r => r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words")),
      uniRows.toString)
  }
}
