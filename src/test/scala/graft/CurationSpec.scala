package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Curation

class CurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox is in the garden and the dog is with it for now"),
    (2L, "the quick brown fox is in the garden and the dog is with it for now"), // dup of 1
    (3L, "der hund ist nicht mit der katze und das ist ein gutes haus von den leuten"),
    (4L, "le chat est dans la maison et les fleurs pour une belle fete des amis"), // fr: filtered
    (5L, "zz"), // junk: filtered by language (und) and length
    (6L, "the aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa") // en, but fails the QUALITY gate
  ).toDF("doc_id", "text")

  test("curate filters by language and quality, dedups keeping min id") {
    val out = Curation.curate(docs, "doc_id", "text", langs = Set("en", "de"), minQuality = 0.4)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"got $kept")
    val langs = out.select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en" && langs(3L) == "de")
  }

  test("quality gate excludes an in-language doc below the threshold") {
    val out = Curation.curate(docs, "doc_id", "text", Set("en", "de"), minQuality = 0.4)
    assert(!out.select("doc_id").as[Long].collect().contains(6L),
      "doc 6 is English but low-quality — must be dropped by the quality predicate")
  }

  test("dedupe=false keeps duplicates; stats account tokens per language") {
    val out = Curation.curate(docs, "doc_id", "text", Set("en", "de"), 0.4, dedupe = false)
    assert(out.count() == 3)
    val st = Curation.stats(out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(st("en")._1 == 2)
    assert(st("de")._1 == 1)
    assert(st("en")._2 > 0)
  }

  private def nearDupCorpus = {
    val base = "the quick brown fox jumps over the lazy dog and then walks slowly home " +
      "through the quiet evening streets of the old town where people gather for food"
    val near = base.replace("slowly", "quite slowly") // ~same shingle set, different hash
    val other = "completely different content about database engines and their storage " +
      "layouts with columnar formats compression encodings and vectorized execution today"
    Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
  }

  test("curateNear drops fuzzy near-duplicates that exact dedup keeps") {
    val corpus = nearDupCorpus
    val exact = Curation.curate(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 3L), "exact dedup cannot see the paraphrase")
    val fuzzy = Curation
      .curateNear(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        jaccardThreshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(fuzzy == Set(1L, 3L), s"near-dup must collapse to the min id, got $fuzzy")
  }

  test("curateNear with a precomputed label table == inline curateNear, no CC recompute") {
    import graft.operators.Dedup
    val corpus = nearDupCorpus
    val inline = Curation
      .curateNear(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        jaccardThreshold = 0.7)
      .select("doc_id").as[Long].collect().toSet

    // ingest-time artifact: pairs + CC once
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.7)
    val labels = Dedup.nearDupClusters(corpus, "doc_id", pairs)

    val reused = Curation
      .curateNear(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        clusters = Some(labels))
      .select("doc_id").as[Long].collect().toSet
    assert(reused == inline, s"label-table curation diverged: $reused vs $inline")
  }

  test("curateNearManaged releases its checkpointed blocks on close") {
    val sc = spark.sparkContext
    // through the api entry point, which hands back curateNearManaged's handle
    val handle = api.curateCorpusNear(
      nearDupCorpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
      jaccardThreshold = 0.7)
    val kept = handle.curated.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
    val tracked = handle.tracked
    assert(tracked.nonEmpty, "a curation pass must have pinned checkpoint blocks")
    assert(tracked.forall(sc.getPersistentRDDs.contains),
      "tracked blocks should be registered while the handle is open")
    handle.close()
    assert(tracked.forall(id => !sc.getPersistentRDDs.contains(id)),
      "close() must unpersist every block the pass pinned")
  }

  // graded decontamination: frac = |doc shingles ∩ eval shingles| / |doc shingles|
  // eval "alpha beta gamma delta epsilon" has 3-gram shingles {abg, bgd, gde};
  // doc 1 embeds it in a longer doc (8 shingles, 3 hits -> 0.375), doc 2 is a
  // near-wholesale inclusion (4 shingles, 3 hits -> 0.75), doc 3 is clean (0.0)
  private def contamCorpus = Seq(
    (1L, "alpha beta gamma delta epsilon zulu yankee xray whiskey victor"),
    (2L, "alpha beta gamma delta epsilon extra"),
    (3L, "uniform tango sierra romeo quebec papa oscar november mike lima")
  ).toDF("doc_id", "text")

  private def evalSet = Seq(Tuple1("alpha beta gamma delta epsilon")).toDF("text")

  test("curate maxContamination: partial overlap survives below threshold, dropped at/above it") {
    def keptAt(t: Double): Set[Long] = Curation
      .curate(contamCorpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        evalSet = Some(evalSet), maxContamination = t, contamN = 3)
      .select("doc_id").as[Long].collect().toSet
    // t=0.5: the quoting doc (0.375 < t) survives, the wholesale inclusion (0.75 >= t) drops
    assert(keptAt(0.5) == Set(1L, 3L), s"t=0.5 got ${keptAt(0.5)}")
    // t=0.2: both overlapping docs reach the threshold
    assert(keptAt(0.2) == Set(3L), s"t=0.2 got ${keptAt(0.2)}")
    // boundary is inclusive: frac(doc 2) == 0.75 drops exactly at t=0.75
    assert(keptAt(0.75) == Set(1L, 3L), s"t=0.75 got ${keptAt(0.75)}")
    assert(keptAt(0.76) == Set(1L, 2L, 3L), s"t=0.76 got ${keptAt(0.76)}")
  }

  test("curate maxContamination: no eval set = identity; t=0 rejected loudly") {
    val plain = Curation.curate(contamCorpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(1L, 2L, 3L))
    val e = intercept[IllegalArgumentException] {
      Curation.curate(contamCorpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        evalSet = Some(evalSet), maxContamination = 0.0, contamN = 3).count()
    }
    assert(e.getMessage.contains("maxContamination"), e.getMessage)
  }

  test("curateNear applies the contamination gate before pair detection") {
    val kept = Curation
      .curateNear(contamCorpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        jaccardThreshold = 0.7, evalSet = Some(evalSet), maxContamination = 0.5, contamN = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"got $kept")
  }

  test("audit: kept set equals curate's output and reasons follow gate precedence") {
    val out = Curation.audit(docs, "doc_id", "text", langs = Set("en", "de"), minQuality = 0.4)
    val reasons = out.select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(reasons(1L).isEmpty && reasons(3L).isEmpty, s"kept docs carry no reason: $reasons")
    assert(reasons(2L).contains("duplicate"), "dup of doc 1 drops at the dedup gate")
    assert(reasons(4L).contains("lang") && reasons(5L).contains("lang"))
    assert(reasons(6L).contains("quality"),
      "English but low-quality: quality fires AFTER lang passed")
    val keptAudit = reasons.filter(_._2.isEmpty).keySet
    val keptCurate = Curation.curate(docs, "doc_id", "text", Set("en", "de"), 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(keptAudit == keptCurate, s"audit kept $keptAudit but curate kept $keptCurate")
  }

  test("audit: null-text docs match curate at every threshold (never silently diverge)") {
    // a null-text doc is NOT quality-null: least() skips nulls, so the
    // score degenerates to the length signal's 1.0/4 = 0.25 — audit and
    // curate must agree on both sides of that value
    val withNull = Seq((1L, Some("the quick brown fox is in the garden with the dog")),
      (2L, Option.empty[String])).toDF("doc_id", "text")
    for (minQ <- Seq(0.1, 0.3)) {
      val reasons = Curation.audit(withNull, "doc_id", "text", langs = Set.empty, minQuality = minQ)
        .select("doc_id", "drop_reason").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      val kept = Curation.curate(withNull, "doc_id", "text", langs = Set.empty, minQuality = minQ)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == reasons.filter(_._2.isEmpty).keySet,
        s"minQ=$minQ: curate kept $kept but audit says $reasons")
      if (minQ == 0.3) assert(reasons(2L).contains("quality"), s"got $reasons")
    }
    // with a lang gate, the null doc routes 'und' and fails lang FIRST
    val r2 = Curation.audit(withNull, "doc_id", "text", langs = Set("en"), minQuality = 0.3)
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(r2(2L).contains("lang"), s"got $r2")
  }

  test("audit: contamination fires before model, model before duplicate") {
    import graft.operators.QualityClassifier
    val train = Seq(
      (101L, "clear prose with careful argument and cited sources", 1),
      (102L, "careful analysis and clear cited argument in prose", 1),
      (103L, "buy now cheap pills click here free winner", -1),
      (104L, "winner click free cheap pills buy here now now", -1)
    ).toDF("doc_id", "text", "y")
    val m = QualityClassifier.fitCentroid(train, "doc_id", "text", col("y"), nFeatures = 64)
    val evalSet = Seq(
      "buy now cheap pills click here free winner offer today").toDF("text")
    val corpus = Seq(
      // contaminated AND model-rejected: contamination wins (gate order)
      (1L, "buy now cheap pills click here free winner offer today"),
      // model-rejected only: same spam VOCABULARY (counts drive the
      // model) but shuffled word ORDER so no 3-gram matches the eval set
      (2L, "pills winner buy free cheap click now here pills"),
      // clean, kept
      (3L, "clear prose with careful argument and cited sources"),
      // exact dup of 3: duplicate
      (4L, "clear prose with careful argument and cited sources")
    ).toDF("doc_id", "text")
    val reasons = Curation
      .audit(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        evalSet = Some(evalSet), maxContamination = 0.5, contamN = 3,
        qualityModel = Some(m))
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(reasons(1L).contains("contamination"), s"got $reasons")
    assert(reasons(2L).contains("model"), s"got $reasons")
    assert(reasons(3L).isEmpty, s"got $reasons")
    assert(reasons(4L).contains("duplicate"), s"got $reasons")
  }

  test("model-based quality gate drops model-rejected docs; identity without a model") {
    import graft.operators.QualityClassifier
    val train = Seq(
      (101L, "clear prose with careful argument and cited sources", 1),
      (102L, "careful analysis and clear cited argument in prose", 1),
      (103L, "buy now cheap pills click here free winner", -1),
      (104L, "winner click free cheap pills buy here now now", -1)
    ).toDF("doc_id", "text", "y")
    val m = QualityClassifier.fitCentroid(train, "doc_id", "text", col("y"), nFeatures = 64)
    val corpus = Seq(
      (1L, "clear prose with careful argument and cited sources here today"),
      (2L, "buy now cheap pills click here free winner and the offer")
    ).toDF("doc_id", "text")
    val kept = Curation
      .curate(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        qualityModel = Some(m))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"model must drop the spam-vocabulary doc, got $kept")
    val noModel = Curation
      .curate(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(noModel == Set(1L, 2L), "without a model both docs survive")
  }

  test("lmGate drops the high-perplexity tail; identity when unset; audit labels 'lm'") {
    import graft.operators.TextAnalysis
    val trusted = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "the quick brown fox runs past the lazy dog"),
      (103L, "a lazy dog naps under the brown fox")
    ).toDF("doc_id", "text")
    val lm = TextAnalysis.trainBigramLm(trusted, "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // fluent (seen)
      (2L, "dog the fox quick lazy the brown over jumps") // scrambled
    ).toDF("doc_id", "text")
    val means = TextAnalysis.scoreWithLm(lm, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(means(2L) > means(1L), s"scrambled must score higher: $means")
    val cut = (means(1L) + means(2L)) / 2
    val kept = Curation
      .curate(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        lmGate = Some((lm, cut)))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"lm gate must drop the scrambled doc, got $kept")
    val noGate = Curation
      .curate(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(noGate == Set(1L, 2L), "without the gate both docs survive")
    val reasons = Curation
      .audit(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        lmGate = Some((lm, cut)))
      .select("doc_id", "drop_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(reasons(1L).isEmpty && reasons(2L).contains("lm"), s"got $reasons")
  }

  test("curateNear: a cluster whose canonical doc the model rejects keeps the next member") {
    import graft.operators.QualityClassifier
    val train = Seq(
      (101L, "clear prose with careful argument and cited sources", 1),
      (102L, "careful analysis and clear cited argument in prose", 1),
      (103L, "buy now cheap pills click here free winner", -1),
      (104L, "winner click free cheap pills buy here now now", -1)
    ).toDF("doc_id", "text", "y")
    val m = QualityClassifier.fitCentroid(train, "doc_id", "text", col("y"), nFeatures = 64)
    // ingest-time labels put docs 1 and 2 in one cluster; 1 (the would-be
    // canonical min-id) is spam-vocabulary, 2 the clean member
    val corpus = Seq(
      (1L, "buy now cheap pills click free winner here now"),
      (2L, "clear prose with careful argument and cited sources"),
      (3L, "careful analysis of cited sources with clear argument")
    ).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("id", "cluster")
    val kept = Curation
      .curateNear(corpus, "doc_id", "text", langs = Set.empty, minQuality = 0.0,
        clusters = Some(labels), qualityModel = Some(m))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L),
      s"model drops 1, cluster {1,2} re-canonicalizes on surviving 2, got $kept")
  }

  test("snapshotDiff classifies added/removed/changed; normalization-equal is unchanged") {
    val oldSnap = Seq((1L, "same text"), (2L, "will change"), (3L, "gone")).toDF("id", "text")
    val newSnap = Seq((1L, "same  TEXT"), (2L, "has changed"), (4L, "brand new")).toDF("id", "text")
    val got = Curation.snapshotDiff(oldSnap, newSnap, "id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    // id 1: digests equal after normalization (case/whitespace) -> unchanged
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"),
      got.toString)
  }

  test("snapshotDiff: presence is row existence, not digest nullness") {
    val oldSnap = Seq((1L, Some("text")), (2L, None), (3L, None)).toDF("id", "text")
    val newSnap = Seq((1L, None), (2L, Some("now set")), (3L, None)).toDF("id", "text")
    val got = Curation.snapshotDiff(oldSnap, newSnap, "id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    // a doc whose text BECAME null still exists -> changed, never removed
    assert(got == Map(1L -> "changed", 2L -> "changed", 3L -> "unchanged"), got.toString)
  }

  test("datasheet: per-(group, lang) counts with corpus-wide duplicate attribution") {
    val corpus = Seq(
      (1L, "a", "the quick brown fox is in the garden and the dog is with it for now"),
      (2L, "b", "the quick brown fox is in the garden and the dog is with it for now"), // dup of 1, OTHER group
      (3L, "a", "der hund ist nicht mit der katze und das ist ein gutes haus von den leuten"),
      (4L, "a", "")
    ).toDF("doc_id", "source", "text")
    val rows = Curation.datasheet(corpus, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // group b contributed the duplicate even though the canonical copy
    // lives in group a — corpus-wide attribution
    val bEn = rows(("b", "en"))
    assert(bEn._1 == 1L && bEn._3 == 1L, s"b/en must be 1 doc, 1 dup: $bEn")
    val aEn = rows(("a", "en"))
    assert(aEn._1 == 1L && aEn._3 == 0L, s"a/en holds the canonical, 0 dups: $aEn")
    assert(rows(("a", "de"))._1 == 1L)
    // the empty doc: zero tokens, counted in n_empty of its (group, lang)
    val empties = rows.values.map(_._4).sum
    assert(empties == 1L, rows.toString)
    // token accounting: identical texts carry identical estimates
    assert(aEn._2 == bEn._2 && aEn._2 > 0L)
  }

  test("tokenCounter: curate and audit account token_est in REAL trained-tokenizer counts") {
    import graft.operators.TextAnalysis
    val tok = TextAnalysis.trainBpeTokenizer(docs, "text", rounds = 3)
    val counter: Curation.TokenCounter = (d, idCol, textCol) =>
      TextAnalysis.bpeEncode(tok, d, idCol, textCol).select(col(idCol), col("n_tokens"))

    // the counter's ground truth: per-doc n_tokens from the artifact encode
    val real = TextAnalysis.bpeEncode(tok, docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap

    val curated = Curation
      .curate(docs, "doc_id", "text", langs = Set("en", "de"), minQuality = 0.4,
        tokenCounter = Some(counter))
      .select("doc_id", "token_est").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(curated.keySet == Set(1L, 3L), curated.toString) // gates unchanged by the counter
    curated.foreach { case (id, est) => assert(est == real(id), s"doc $id: $est vs ${real(id)}") }
    // and they genuinely differ from the words×1.3 estimate (16 words -> 20)
    assert(curated(1L) != 20L, s"BPE count coincides with the estimate: ${curated(1L)}")

    // audit reports the SAME real counts on every row (docs the encoder
    // omits — none here — would account as 0)
    val audited = Curation
      .audit(docs, "doc_id", "text", langs = Set("en", "de"), minQuality = 0.4,
        tokenCounter = Some(counter))
      .select("doc_id", "token_est").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(audited.size == 6)
    audited.foreach { case (id, est) => assert(est == real.getOrElse(id, 0L), s"doc $id") }

    // curateNear carries the same counter through the fuzzy-dedup path
    val near = Curation
      .curateNear(docs, "doc_id", "text", langs = Set("en", "de"), minQuality = 0.4,
        tokenCounter = Some(counter))
      .select("doc_id", "token_est").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    near.foreach { case (id, est) => assert(est == real(id), s"near doc $id") }

    // packing by the real counts: strict-budget next-fit never exceeds
    // the budget with multi-doc bins
    val counts = TextAnalysis.bpeEncode(tok, docs, "doc_id", "text")
    val bins = graft.operators.SequencePacking
      .packGreedy(counts, "doc_id", "n_tokens", budget = 40, partitions = 1)
      .groupBy("bin_id").agg(count(lit(1)).as("n"), sum("tokens").as("t"))
      .collect()
    bins.foreach { r =>
      assert(r.getAs[Long]("n") == 1L || r.getAs[Long]("t") <= 40L, r.toString)
    }
  }

  test("datasheet splits n_untokenized from n_empty under a real TokenCounter (r13 #7)") {
    val corpus = Seq(
      (1L, "a", "the quick brown fox is in the garden and the dog is with it for now"),
      (3L, "a", "der hund ist nicht mit der katze und das ist ein gutes haus von den leuten"),
      (4L, "a", "") // genuinely empty: the counter tokenizes it TO zero
    ).toDF("doc_id", "source", "text")
    // a counter that OMITS doc 3 (non-empty!) and tokenizes the rest
    val counter: Curation.TokenCounter = (d, idCol, textCol) =>
      d.where(col(idCol) =!= 3L)
        .select(col(idCol),
          size(graft.functions.TextFunctions.ftsTokens(col(textCol))).cast("long").as("n_tokens"))
    val rows = Curation.datasheet(corpus, "doc_id", "text", "source", Some(counter))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens"),
          r.getAs[Long]("n_empty"), r.getAs[Long]("n_untokenized")))
      .toMap
    // the omitted non-empty doc is published as UNTOKENIZED, never as empty
    assert(rows(("a", "de")) == ((1L, 0L, 0L, 1L)), rows.toString)
    // the genuinely empty doc (counter emitted 0 tokens) stays n_empty
    val emptyRow = rows.find { case ((_, lang), _) => lang != "de" && lang != "en" }.get._2
    assert(emptyRow == ((1L, 0L, 1L, 0L)), rows.toString)
    // the tokenized doc accounts real tokens, nothing flagged
    assert(rows(("a", "en")) == ((1L, 16L, 0L, 0L)), rows.toString)
    // without a counter the column exists and is identically 0
    val noCounter = Curation.datasheet(corpus, "doc_id", "text", "source")
      .agg(sum("n_untokenized")).head().getLong(0)
    assert(noCounter == 0L)
  }

  test("audit holds no storage: the plan carries no checkpoint pins (r13 #6)") {
    // the r13 verdict flagged audit's unreleased lazy localCheckpoint —
    // the dup gate is now a single running-sum window over one subtree,
    // so there is nothing to pin and nothing to leak in a per-batch loop
    val out = Curation.audit(docs, "doc_id", "text", langs = Set("en", "de"), minQuality = 0.4)
    assert(graft.util.Checkpoints.pinnedRddIds(out).isEmpty,
      "audit's plan must not reference pinned/checkpointed RDDs")
    assert(out.count() == 6L)
  }
}
