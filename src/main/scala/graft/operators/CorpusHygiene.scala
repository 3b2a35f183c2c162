package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators for training-data preparation: PII scrubbing,
  * repetition-based quality signals (the published Gopher/MassiveText
  * heuristics), and eval-set decontamination. All pure DataFrame algebra:
  * the scrub and the repetition signals fuse into the scan; the
  * decontamination join is gram-blocked like the dedup family.
  */
object CorpusHygiene {

  /** Regex patterns for the classic scrubbing targets. Deliberately
    * simple, portable forms (both Spark and standard-SQL regex engines
    * accept them) — production filters layer stricter validators behind
    * the same rewrite shape.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "(?:\\+?[0-9]{1,3}[-. ])?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Replace emails, phone numbers, and IPv4 addresses with typed
    * placeholder tokens — the standard pre-training scrub. Order matters
    * and is fixed (email first: a phone regex must never eat an address's
    * digits after the email was replaced, and vice versa).
    */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, PhonePattern, "<PHONE>")
    regexp_replace(noPhone, Ipv4Pattern, "<IP>")
  }

  /** Count of PII hits per kind — the audit metric next to the scrub. */
  def piiCounts(text: Column): Column =
    struct(
      regexp_count(text, lit(EmailPattern)).as("emails"),
      regexp_count(text, lit(PhonePattern)).as("phones"),
      regexp_count(text, lit(Ipv4Pattern)).as("ips")
    )

  /** Fraction of lines that are duplicates of an earlier line — the
    * Gopher repetition signal `duplicate_line_fraction`
    * (Rae et al. 2021, "Scaling Language Models", table A1). 0.0 for
    * texts of at most one line.
    */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    val n = size(lines)
    when(n <= 1, lit(0.0)).otherwise(
      (n - size(array_distinct(lines))).cast("double") / n
    )
  }

  /** Fraction of the document's word `n`-gram occurrences taken by its
    * single most frequent `n`-gram — the other Gopher repetition signal
    * (`top_2gram_fraction` etc., Rae et al. 2021 table A1). Explode-shaped
    * (per-doc gram histograms don't fit a scalar expression): one shuffle
    * on (id, gram), then a max-share aggregate. Docs with fewer than `n`
    * words score 0.0.
    */
  def topNgramFraction(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2
  ): DataFrame = {
    // words bound once (see Dedup.shingles note); occurrences kept — no
    // distinct, the histogram needs every sliding position
    val grams = docs
      .select(
        col(idCol).as("id"),
        explode(
          graft.functions.TextFunctions.bindOnce(
            split(Dedup.normalized(col(textCol)), " "),
            w =>
              filter(
                transform(
                  sequence(lit(0), greatest(size(w) - n, lit(0))),
                  i => when(size(w) >= n, concat_ws(" ", slice(w, i + 1, lit(n))))
                ),
                g => g.isNotNull
              )
          )
        ).as("gram")
      )
    val perGram = grams.groupBy("id", "gram").agg(count(lit(1)).as("cnt"))
    val perDoc = perGram.groupBy("id")
      .agg(max("cnt").as("top_cnt"), sum("cnt").as("total"))
      .select(col("id"), (col("top_cnt").cast("double") / col("total")).as("top_ngram_frac"))
    // docs shorter than n words emit no grams — restore them with 0.0
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .withColumn("top_ngram_frac", coalesce(col("top_ngram_frac"), lit(0.0)))
  }

  /** Documents whose word `n`-grams overlap an evaluation set — the
    * standard pre-training decontamination sweep (the published recipe:
    * drop training docs sharing any 13-gram with a benchmark). The join
    * is gram-blocked: only (id, gram) pairs shuffle, the eval side is
    * tiny and broadcasts, and the result is the distinct set of
    * contaminated corpus ids (left-semi — never a fan-out).
    */
  def contaminatedIds(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 13
  ): DataFrame = {
    val corpusGrams = corpus
      .select(col(idCol).as("id"), explode(Dedup.shingles(col(textCol), n)).as("gram"))
    val evalGrams = evalSet
      .select(explode(Dedup.shingles(col(evalTextCol), n)).as("gram"))
      .distinct()
    corpusGrams
      .join(broadcast(evalGrams), "gram")
      .select("id")
      .distinct()
  }

  /** Per-document contamination SCORE: the fraction of a document's
    * distinct n-gram shingles present in the eval set — the graded
    * signal behind [[contaminatedIds]]' binary gate (threshold curation,
    * partial-overlap audits, leakage dashboards). Same plan shape as
    * [[contaminatedIds]]: corpus grams left-join the BROADCAST distinct
    * eval grams, then one (id)-keyed count aggregation — corpus text
    * never shuffles. Documents with fewer than `n` words have zero
    * shingles and score (0, 0, 0.0) via the explode_outer row.
    *
    * Size contract (same as [[contaminatedIds]]): the
    * eval side is a BENCHMARK, not a corpus — its distinct gram set must
    * fit the broadcast/driver limit (tens of millions of grams ≈ a few
    * GB; typical eval suites are orders of magnitude under that). Scoring
    * against an eval set too large to broadcast wants the Bloom-prefilter
    * shape ([[contaminatedIdsBloom]]) with the count aggregation applied
    * to its confirm join instead.
    */
  def contaminationFraction(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 13
  ): DataFrame = {
    // shingles are already per-doc distinct (Dedup.shingles array_distincts)
    val corpusGrams = corpus
      .select(col(idCol).as("id"), explode_outer(Dedup.shingles(col(textCol), n)).as("gram"))
    val evalGrams = evalSet
      .select(explode(Dedup.shingles(col(evalTextCol), n)).as("gram"))
      .distinct()
    corpusGrams
      .join(broadcast(evalGrams.withColumn("_ch_hit", lit(1))), Seq("gram"), "left")
      .groupBy("id")
      .agg(count(col("gram")).as("n_grams"), count(col("_ch_hit")).as("n_hits"))
      .withColumn(
        "frac",
        when(col("n_grams") > 0, col("n_hits").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)))
  }

  /** [[contaminatedIds]] for eval sets too large to broadcast-hash-join
    * (decontaminating against another corpus, not a benchmark): a Bloom
    * filter over the eval grams — a few bits per gram, so ~100M grams fit
    * in a couple hundred MB and still broadcast — prunes corpus grams
    * MAP-SIDE, so only probable hits (true matches + `fpp` false
    * positives) reach the shuffled confirm join. The confirm join keeps
    * the result EXACT: bloom false positives are eliminated there, and a
    * bloom filter has no false negatives, so no contaminated id is lost.
    */
  def contaminatedIdsBloom(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      evalSet: DataFrame,
      evalTextCol: String,
      n: Int = 13,
      fpp: Double = 0.01
  ): DataFrame = {
    val spark = corpus.sparkSession
    // pinned: sized once, reused by build + confirm join
    val evalGrams = graft.util.Checkpoints.pin(evalSet
      .select(explode(Dedup.shingles(col(evalTextCol), n)).as("gram"))
      .distinct())
    val nGrams = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("gram", nGrams, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => g != null && bloomBc.value.mightContain(g))
    corpus
      .select(col(idCol).as("id"), explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .where(mightContain(col("gram"))) // narrow, pre-shuffle prune
      .join(evalGrams, "gram") // exact confirm — removes false positives
      .select("id")
      .distinct()
  }

  /** Demo blocklist for the q_blocklist query and its oracle twin: two
    * single words (one present in the synthetic corpus, one absent) and
    * two 2-word phrases, with "slow query" deliberately overlapping the
    * "slow" unigram so the occurrence-counting semantics (every position
    * counts independently) are exercised by the gate itself. Production
    * callers supply their own list.
    */
  val demoBlocklist: Seq[String] =
    Seq("slow", "deprecated", "slow query", "table scan")

  /** C4-style blocklist gate: per-document occurrence counts of a curated
    * term list, matched on WHOLE normalized words (the C4 "bad words"
    * filter dropped any page containing a listed term; Dolma/RefinedWeb
    * keep graded counts and threshold on density — this emits both
    * signals and leaves the cut to the caller). Terms may be single words
    * or multi-word phrases; a phrase matches a run of consecutive
    * normalized words. Occurrences count per position, so overlapping
    * terms ("slow" and "slow query") each count where they match.
    *
    * Scale shape: ZERO shuffles — the term list lives in the plan as a
    * literal array, so matching is pure column algebra fused into the
    * parquet scan (the same contract as [[scrubPii]]). Per-gram cost is
    * O(|terms|) array membership, fine for curated lists up to a few
    * thousand entries; a list too large to inline (millions of entries —
    * URL blocklists) wants the broadcast-join shape of
    * [[contaminatedIds]] instead.
    *
    * Returns (doc_id, n_words, hits, matched_terms, hit_frac_fp,
    * blocked): `hits` total matching positions, `matched_terms` how many
    * DISTINCT list entries matched, `hit_frac_fp` = (hits * scale) div
    * n_words (integer fixed-point, 0 for empty docs), `blocked` = 0/1
    * flag for the C4 any-hit cut.
    */
  def blocklistHits(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      scale: Int = 1000000
  ): DataFrame = {
    require(terms.nonEmpty, "blocklistHits needs a non-empty term list")
    val normTerms: Seq[Seq[String]] = terms
      .map(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    require(normTerms.forall(_.nonEmpty), s"blank term in blocklist: $terms")
    val byLen: Seq[(Int, Seq[String])] = normTerms
      .groupBy(_.size)
      .map { case (n, ts) => n -> ts.map(_.mkString(" ")).distinct }
      .toSeq
      .sortBy(_._1)
    def gramsOf(w: Column, n: Int): Column =
      if (n == 1) w
      else
        when(
          size(w) >= n,
          transform(
            sequence(lit(1), size(w) - (n - 1)),
            i => array_join(slice(w, i, lit(n)), " "))
        ).otherwise(array().cast("array<string>"))
    val words = graft.functions.TextFunctions.bindOnce(
      split(Dedup.normalized(coalesce(col(textCol), lit(""))), " "),
      w => filter(w, t => length(t) > 0))
    val base = docs.select(col(idCol).as("doc_id"), words.as("w"))
    val perN = byLen.map { case (n, ts) =>
      val tlit = typedlit(ts)
      val grams = gramsOf(col("w"), n)
      (size(filter(grams, g => array_contains(tlit, g))).cast("long"),
        size(array_intersect(array_distinct(grams), tlit)).cast("long"))
    }
    base
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        perN.map(_._1).reduce(_ + _).as("hits"),
        perN.map(_._2).reduce(_ + _).as("matched_terms"))
      .withColumn(
        "hit_frac_fp",
        when(col("n_words") > 0, expr(s"(hits * ${scale}L) div n_words"))
          .otherwise(lit(0L)))
      .withColumn("blocked", (col("hits") > 0).cast("long"))
  }

  /** Per-group percentile calibration: rank every row's `valueCol` WITHIN
    * its `byCol` group (percent_rank — ties impossible because `tieCol`
    * joins the ordering) and keep rows at or above `minPct`. The
    * distribution-aware quality gate: an absolute threshold over a mixed
    * corpus systematically biases against languages/sources whose metric
    * runs low (a short-sentence language is not a low-quality language),
    * so curation pipelines gate on the within-group percentile instead.
    *
    * percent_rank = (rank - 1) / (n - 1) is computed from exact integer
    * ranks, so the doubles — and the >= comparison — are bit-identical in
    * any engine. Scale shape: one shuffle on `byCol`; each group sorts
    * independently (the same shape as any per-group window; salt the group
    * key upstream if one group dominates).
    *
    * Returns the input columns + `pct`, single-row groups kept (their
    * percent_rank is 0, Spark and standard SQL agree) only when
    * minPct <= 0.
    */
  def percentileGate(
      df: DataFrame,
      byCol: String,
      valueCol: String,
      tieCol: String,
      minPct: Double
  ): DataFrame = {
    require(minPct >= 0.0 && minPct <= 1.0, s"minPct must be in [0, 1], got $minPct")
    // fail loudly instead of silently replacing a caller's pct column
    // with the gate's output (ADVICE r4 collision class)
    require(!df.columns.contains("pct"),
      "df already has a 'pct' column — rename it; percentileGate emits its percentile as 'pct'")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(byCol)
      .orderBy(col(valueCol), col(tieCol))
    df.withColumn("pct", percent_rank().over(win)).where(col("pct") >= minPct)
  }
}
