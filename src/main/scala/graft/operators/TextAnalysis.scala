package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * column algebra (codegen'd, UDF-free) so they fuse into the scan stage —
  * at 100 TB these run at parquet-read speed.
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for n-gram-free heuristic language
    * ID. Scoring: fraction of words that are stopwords of each language;
    * highest wins, "und" (undetermined) if no stopword hits at all.
    */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "are"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "den", "von"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "dans", "que", "pour", "une"),
    "es" -> Seq("el", "la", "los", "las", "es", "en", "que", "por", "con", "para")
  )

  /** Per-language stopword-hit count columns + argmax language code.
    *
    * Counted with regexp_count over the lowercased text: a token (maximal
    * `[a-zà-ÿ]` run) equals a stopword iff the stopword occurs
    * with non-token-char boundaries on both sides — identical counts to
    * splitting and filtering, but fully codegen'd (no interpreted HOFs).
    */
  def langScores(text: Column): Seq[(String, Column)] = {
    val boundary = "[a-z\\u00e0-\\u00ff]"
    StopwordLists.map { case (lang, stops) =>
      val pattern = s"(?<!$boundary)(?:${stops.mkString("|")})(?!$boundary)"
      lang -> regexp_count(lower(text), lit(pattern))
    }
  }

  private def bindOnce(value: Column, body: Column => Column): Column =
    TextFunctions.bindOnce(value, body)

  /** Heuristic language ID over a text column -> 2-letter code or "und".
    *
    * Each per-language regexp scan runs exactly once per row (the counts
    * land in a struct bound via [[bindOnce]]); the argmax chain reads the
    * bound struct's fields.
    */
  def langId(text: Column): Column = {
    val counts = struct(langScores(text).map { case (lang, c) => c.as(lang) }: _*)
    // argmax by score, ties broken by list order (en first): lang i wins
    // iff its score is positive and >= every later language's score.
    // bindOnce matters even with codegen'd counts: filter-pushdown inlines
    // this whole tree into predicates, and without the binding each regexp
    // would re-run per reference (measured 2.2s vs 1.5s on curate@sf0.1).
    bindOnce(counts, c =>
      StopwordLists.indices.foldRight(lit("und")) { (i, fallback) =>
        val lang = StopwordLists(i)._1
        val s = c(lang)
        val cond = StopwordLists.indices
          .drop(i + 1)
          .map(j => s >= c(StopwordLists(j)._1))
          .foldLeft(s > 0)(_ && _)
        when(cond, lit(lang)).otherwise(fallback)
      }
    )
  }

  /** Composite quality score in [0,1]: mean of clamped signals —
    * reasonable length, word length in human range, whitespace present,
    * mostly-ASCII, low repetition. Mirrors the reference's quality-gate
    * signals (src/extract/pymupdf_extractor.py:173-236) recast as a score.
    */
  def qualityScore(text: Column): Column = {
    // All signals are codegen'd built-ins (avgWordLength is a
    // regexp_count/length form); the struct + bindOnce guarantees each is
    // evaluated once per row even after filter-pushdown inlines the tree
    // into predicates (see langId note).
    val sig = struct(
      length(text).as("len"),
      TextFunctions.avgWordLength(text).as("awl"),
      TextFunctions.whitespaceRatio(text).as("wsr"),
      TextFunctions.nonAsciiRatio(text).as("nar")
    )
    bindOnce(sig, s => {
      // identical arithmetic/association order to the OracleSql mirror
      val lenSignal = least(s("len").cast("double") / 200.0, lit(1.0))
      val wordSignal = when(s("awl") >= 2.0 && s("awl") <= 15.0, 1.0).otherwise(0.0)
      val wsSignal = when(s("wsr") > 0.05 && s("wsr") < 0.5, 1.0).otherwise(0.0)
      val asciiSignal = lit(1.0) - least(s("nar") / 0.15, lit(1.0))
      round((lenSignal + wordSignal + wsSignal + asciiSignal) / 4.0, 6)
    })
  }

  /** Whitespace token count plus a BPE-ish subword estimate: words are
    * counted, and long words contribute extra tokens per 4 characters
    * beyond the first 4 (approximating byte-pair splitting of rare words).
    */
  def bpeTokenEstimate(text: Column): Column = {
    val words = filter(split(text, TextFunctions.Ws + "+"), w => length(w) > 0)
    aggregate(
      words,
      lit(0),
      (acc, w) => acc + lit(1) + greatest(floor((length(w) - 4).cast("double") / 4.0), lit(0)).cast("int")
    )
  }

  /** Rolling-hash document fingerprint (winnowing-lite): md5 hashes of
    * the character `k`-gram windows of the normalized text, the
    * lexicographic min-`keep` of them, md5 of their concatenation.
    * Documents sharing most content share fingerprint minima, and every
    * step is expressible identically in standard SQL (the DuckDB oracle).
    */
  def fingerprintPortable(text: Column, k: Int = 8, keep: Int = 4): Column = {
    val norm = Dedup.normalized(text)
    val n = length(norm)
    val grams = transform(
      sequence(lit(1), greatest(n - (k - 1), lit(1))),
      i => md5(substr(norm, i, lit(k)))
    )
    md5(concat_ws("", slice(array_sort(grams), 1, keep)))
  }

  /** Corpus collocations: top-`k` word bigrams by lift
    * `P(ab) / (P(a)P(b)) = c_ab * N / (c_a * c_b)` with a minimum bigram
    * count (PMI's argument without the log — same ranking, and exact
    * integer arithmetic until one final division, so it is
    * oracle-checkable where libm `log` is not). Two shuffles (unigram and
    * bigram histograms) + a broadcast-sized join of the min-count
    * survivors against the unigram counts.
    */
  def bigramLift(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5,
      k: Int = 20
  ): DataFrame = {
    val toks = {
      import org.apache.spark.sql.graftbridge
      docs.select(
        graftbridge.column(
          graft.plans.NonEmptyStrings(
            graftbridge.expression(split(Dedup.normalized(col(textCol)), " "))))
          .as("w"))
    }
    // ONE corpus scan + ONE corpus-size shuffle: every word position i
    // emits (w[i], w[i+1] | null-for-last), so the (w1, w2) histogram
    // simultaneously encodes the bigram counts (w2 non-null groups) and
    // the unigram counts (sum over each w1's groups — aggregated from the
    // already-tiny histogram, not the corpus). The pairing is arrays_zip
    // of the word array with its left-shift (padded with one null) —
    // a far smaller expression tree than an indexed transform, which
    // matters because codegen compilation is a real per-query cost.
    val pos = toks
      .where(size(col("w")) >= 1)
      .select(
        explode(
          arrays_zip(
            col("w"),
            concat(slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
              array(lit(null).cast("string")))
          )
        ).as("g")
      )
      .select(col("g.w").as("w1"), col("g.1").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_pair"))
    // pos is read three ways below; its shuffle is shared via
    // ReuseExchange, so the corpus-side tokenize/explode/partial-agg runs
    // once and only histogram-sized final aggregates repeat
    val uni = pos.groupBy("w1").agg(sum("c_pair").as("c")).withColumnRenamed("w1", "word")
    // total carried as a 1-row plan (broadcast into the final projection):
    // no eager driver action, and an empty corpus yields an empty result
    // instead of an NPE
    val tot = uni.agg(coalesce(sum("c"), lit(0L)).as("n_total"))
    val bi = pos
      .where(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("c_pair").as("c_ab"))
      .where(col("c_ab") >= minCount)
    val uc1 = uni.select(col("word").as("w1"), col("c").as("c_a"))
    val uc2 = uni.select(col("word").as("w2"), col("c").as("c_b"))
    bi
      .join(uc1, "w1")
      .join(uc2, "w2")
      .crossJoin(broadcast(tot))
      .select(
        col("w1"),
        col("w2"),
        col("c_ab"),
        ((col("c_ab") * col("n_total")).cast("double") / (col("c_a") * col("c_b")).cast("double"))
          .as("lift")
      )
      .orderBy(desc("lift"), col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-document TF-IDF top terms: the `k` most characteristic words of
    * each document, scored tf * N / df in FIXED-POINT integer arithmetic
    * (score_fp = tf * N * 1e6 div df, floor division) so ranking is
    * bit-identical across engines and partitionings — no float log, no
    * sum-order dependence. (The classic log-idf is monotone in N/df for
    * fixed tf; the ranking differs only in how tf and idf trade off, and
    * the linear-idf trade is the deterministic one.)
    *
    * Scale shape: one corpus scan + explode; the (doc, word) tf aggregate
    * is the only corpus-sized shuffle; df comes from the tf table (already
    * histogram-sized per word) and joins back by word; the corpus doc
    * count N arrives as a 1-row broadcast (lazy — no driver action). The
    * final top-k window partitions by document, and a document's group is
    * bounded by its own vocabulary, so the per-group sort is small and
    * embarrassingly parallel. Overflow bound: tf * N * 1e6 must fit a
    * BIGINT — safe to ~9e12 doc-count×tf product; shrink the 1e6 scale
    * beyond that.
    *
    * Returns (doc_id, word, tf, score_fp, rn), rn = 1..k per doc ordered
    * (score_fp desc, word asc).
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode(
        TextFunctions.bindOnce(
          split(Dedup.normalized(col(textCol)), " "),
          w => filter(w, t => length(t) > 0)
        )
      ).as("word")
    )
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_total"))
    val scored = tf
      .join(dfreq, "word")
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"),
        col("word"),
        col("tf"),
        expr("(tf * n_total * 1000000) div df").as("score_fp")
      )
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(desc("score_fp"), col("word"))
    scored
      .withColumn("rn", row_number().over(win).cast("long"))
      .where(col("rn") <= k)
  }

  /** Unigram surprisal quality score — the integer-exact analog of the
    * CCNet/KenLM perplexity filter. A token's information content is
    * measured in WHOLE BITS as `bits(N) - bits(cnt)` where `cnt` is the
    * token's corpus frequency, `N` the corpus token count, and
    * `bits(x) = length(bin(x))` (= floor(log2 x) + 1) — pure integer, so
    * the per-document sum is exact, associative, partition-invariant,
    * and reproducible in any SQL engine (no libm log in sight).
    *
    * Docs whose mean surprisal is far ABOVE the corpus norm are
    * rare-token-heavy (OCR noise, codes, non-language); far BELOW means
    * degenerate/boilerplate repetition — the same two tails the
    * perplexity filter cuts. Compose with
    * [[CorpusHygiene.percentileGate]] for the gate itself.
    *
    * Scale shape: the token explode feeds one (word)-keyed count shuffle
    * with map-side partial aggregation; docs then re-join counts by word.
    * The unigram table is vocabulary-sized — at 100 TB it is the small
    * side and broadcastable after a frequency cut; here it flows through
    * a regular shuffle join.
    *
    * Returns (doc_id, n_toks, surprisal_bits, mean_surprisal_fp) where
    * mean_surprisal_fp = (surprisal_bits * scale) div n_toks.
    */
  def unigramSurprisal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scale: Int = 10000
  ): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode(
        TextFunctions.bindOnce(
          split(Dedup.normalized(col(textCol)), " "),
          w => filter(w, t => length(t) > 0)
        )
      ).as("word")
    )
    val counts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("n_total"))
    toks
      .join(counts, "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        sum(length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long")
          .as("surprisal_bits")
      )
      .withColumn("mean_surprisal_fp",
        expr(s"(surprisal_bits * ${scale}L) div n_toks"))
  }

  /** Bigram language-model quality score with stupid backoff — the
    * contextual upgrade of [[unigramSurprisal]], still in WHOLE BITS so
    * every engine reproduces it exactly (no libm log anywhere). The LM is
    * trained on `lmDocs` (typically a held-out or trusted slice); `docs`
    * are scored against it, so unseen bigrams genuinely back off — unlike
    * scoring a corpus against its own counts, where every bigram trivially
    * exists.
    *
    * Per-token score (all counts from the LM corpus, `n_lm` its token
    * total, `bits(x) = length(bin(x))`):
    *   - bigram hit:   `bits(cnt1(prev)) - bits(cnt2(prev, w))`
    *     — the whole-bit conditional surprisal -log2 P(w | prev).
    *   - backoff:      `backoffBits + bits(n_lm) - bits(cnt1(w))`
    *     — unigram surprisal plus a fixed penalty, the integer analog of
    *     stupid backoff's alpha = 0.4 (-log2 0.4 ~ 1.32 bits; Brants et
    *     al. 2007, "Large Language Models in Machine Translation").
    *   - OOV:          as backoff with cnt1 treated as 1 (`bits(cnt1)=1`).
    *   - first token:  unigram path with NO penalty (no context exists).
    *
    * High mean = unlikely-under-the-LM text (noise, non-language, or
    * domain shift); low mean = degenerate repetition. Gate the tails with
    * [[CorpusHygiene.percentileGate]], like the CCNet perplexity filter.
    *
    * Scale shape: words and word pairs are md5-digested to 60-bit longs
    * AT THE SCAN ([[wordGrams]]) — gram strings never shuffle. The LM
    * tables are vocabulary-sized; the three token-stream joins (cnt1(w),
    * cnt1(prev), cnt2(pair)) are small-side joins — broadcastable at
    * 100 TB after a frequency cut, regular shuffle joins here. One final
    * doc-keyed aggregation. Empty docs drop (no tokens), matching the
    * [[unigramSurprisal]] contract.
    *
    * Returns (doc_id, n_toks, n_backoff, n_oov, lm_bits, mean_lm_fp)
    * where mean_lm_fp = (lm_bits * scale) div n_toks; n_backoff counts
    * non-first tokens whose bigram missed; n_oov the subset whose unigram
    * missed too.
    */
  def bigramLmScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lmDocs: DataFrame,
      scale: Int = 10000,
      backoffBits: Int = 1
  ): DataFrame =
    scoreWithLm(trainBigramLm(lmDocs, textCol), docs, idCol, textCol,
      scale, backoffBits)

  /** A trained bigram LM: digest-keyed unigram and bigram count tables.
    * Plain associative counts: train once on a trusted corpus, then
    * [[scoreWithLm]] every incoming batch without touching the training
    * text again. The token
    * total is `sum(uni.cnt1)` by construction, so it is never stored —
    * it cannot drift out of sync with the tables.
    */
  final case class BigramLm(uni: DataFrame, bi: DataFrame)

  /** Count the LM tables from ONE text pass: unigram and bigram digests
    * explode together (bigrams tagged with bit 62 —
    * [[graft.plans.TextKernels.BiTag]]; digests are 60-bit so the tag
    * never collides), ONE (kind|digest)-keyed shuffle with map-side
    * partial aggregation counts both tables, and the two slices split
    * above the exchange — ReusedExchange shares the scan + count between
    * them, where the previous two-table form tokenized the corpus twice.
    * Counts are bit-identical (the tagged multiset is exactly the union
    * of the two gram multisets); gram strings never shuffle.
    */
  def trainBigramLm(lmDocs: DataFrame, textCol: String): BigramLm = {
    import org.apache.spark.sql.graftbridge
    val biTag = graft.plans.TextKernels.BiTag
    val kd = graftbridge.column(
      graft.plans.UniBiGramDigests(
        graftbridge.expression(split(Dedup.normalized(col(textCol)), " "))))
    val counts = lmDocs
      .select(explode(kd).as("kg"))
      .groupBy("kg")
      .agg(count(lit(1)).as("cnt"))
    BigramLm(
      counts.where(col("kg") < biTag)
        .select(col("kg").as("w"), col("cnt").as("cnt1")),
      counts.where(col("kg") >= biTag)
        .select((col("kg") - biTag).as("pair"), col("cnt").as("cnt2")))
  }

  /** CCNet-style corpus bucketing: split rows into `nBuckets` contiguous
    * rank slices of the `valueCol` total order (ascending, `tieCol`
    * breaking ties) — with the LM score as the value this is the
    * published head/middle/tail perplexity split (bucket 0 = lowest
    * score = "head"). Rank comes from [[Ranks.withGlobalRank]]'s two-pass
    * range-partitioned rank, NEVER an unpartitioned window — the 100 TB
    * contract. Bucket sizes differ by at most one row
    * (`bucket = ((rank-1) * nBuckets) div n`), exactly reproducible in
    * any engine. Returns the input plus `bucket` (BIGINT, 0-based).
    */
  def lmBuckets(
      scored: DataFrame,
      valueCol: String = "mean_lm_fp",
      tieCol: String = "doc_id",
      nBuckets: Int = 3
  ): DataFrame = {
    require(nBuckets >= 1, s"need nBuckets >= 1, got $nBuckets")
    val (ranked, n) =
      Ranks.withGlobalRank(scored, Seq(col(valueCol), col(tieCol)), "_lmrk")
    ranked
      .withColumn("bucket",
        expr(s"((_lmrk - 1) * ${nBuckets}L) div ${math.max(n, 1L)}L"))
      .drop("_lmrk")
  }

  /** Score `docs` against a FROZEN trained LM — the incremental-batch
    * path of [[bigramLmScore]] (same output contract; see there for the
    * per-token semantics and the scale shape).
    */
  def scoreWithLm(
      lm: BigramLm,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scale: Int = 10000,
      backoffBits: Int = 1
  ): DataFrame = {
    require(backoffBits >= 0, s"need backoffBits >= 0, got $backoffBits")
    val uni = lm.uni
    val bi = lm.bi
    val total = uni.agg(sum("cnt1").as("n_lm"))
    // Token stream of the scored docs: (w, prev, pair) digests per
    // position, pair/prev null at position 1. Both digest arrays come
    // from the same wordGrams builder the LM side uses, so join keys
    // agree bit-for-bit.
    val tokStream = {
      import org.apache.spark.sql.graftbridge
      graftbridge.column(
        graft.plans.LmTokenStream(
          graftbridge.expression(split(Dedup.normalized(col(textCol)), " "))))
    }
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode(tokStream).as("t"))
      .select(col("doc_id"), col("t.w"), col("t.prev"), col("t.pair"))
    val bits = (c: Column) => length(bin(c)).cast("long")
    val uniW = uni.select(col("w").as("uw"), col("cnt1").as("cnt1_w"))
    val uniP = uni.select(col("w").as("up"), col("cnt1").as("cnt1_prev"))
    val unigramBits =
      bits(col("n_lm")) - when(col("cnt1_w").isNotNull, bits(col("cnt1_w")))
        .otherwise(lit(1L))
    toks
      .join(uniW, col("w") === col("uw"), "left")
      .join(uniP, col("prev") === col("up"), "left")
      .join(bi, Seq("pair"), "left")
      .crossJoin(broadcast(total))
      .withColumn(
        "score_bits",
        when(col("cnt2").isNotNull, bits(col("cnt1_prev")) - bits(col("cnt2")))
          .otherwise(
            when(col("pair").isNull, lit(0L))
              .otherwise(lit(backoffBits.toLong)) + unigramBits))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("pair").isNotNull && col("cnt2").isNull, 1L).otherwise(0L))
          .as("n_backoff"),
        sum(when(col("pair").isNotNull && col("cnt2").isNull &&
            col("cnt1_w").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("score_bits")).as("lm_bits"))
      .withColumn("mean_lm_fp", expr(s"(lm_bits * ${scale}L) div n_toks"))
  }

  /** Array of digested word `n`-grams of `text` (one per position,
    * duplicates kept). Each gram is the first 60 bits of its md5 as a
    * BIGINT — digesting at the scan means gram STRINGS never leave the
    * stage, and the 8-byte key shuffles 4x lighter than the md5 hex
    * string would (measured 127 -> 31 MB on the 50k-doc rehearsal).
    * 60 bits keep the value positive in a signed long and collision-safe
    * to ~1e9 distinct grams (p ~ n^2 / 2^61); a collision merges two
    * grams identically in every engine, so oracle parity is unaffected.
    * Shared by [[boilerplateCoverage]] and the source-overlap sketches;
    * the oracle mirrors the digest via 15-nibble ascii arithmetic
    * (OracleSql.md5NibbleIntSql).
    */
  def wordGrams(text: Column, n: Int): Column = {
    require(n >= 1, s"need n >= 1, got $n")
    // digesting runs in graft.plans.TextKernels.gramDigests, a codegen-
    // friendly Catalyst expression (one md5 per position over the joined
    // gram bytes, top 60 bits kept) — the previous higher-order-function
    // tree was interpreted and re-boxed per position. Bit-identical:
    // empty words dropped, < n words → empty array.
    import org.apache.spark.sql.graftbridge
    graftbridge.column(
      graft.plans.WordGramDigests(
        graftbridge.expression(split(Dedup.normalized(text), " ")), n))
  }

  /** Cross-document boilerplate detection: word n-grams that recur in at
    * least `minDocs` DISTINCT documents are "boilerplate" (headers,
    * footers, license blurbs — the C4-style corpus-wide repeated-span
    * filter, as opposed to [[qualityScore]]'s within-document repetition
    * signals). Returns per-document coverage: how many of the document's
    * n-gram positions are covered by a boilerplate gram.
    *
    * Scale shape: gram STRINGS never shuffle — every gram is md5-digested
    * at the scan (32-byte keys, portable to the oracle; swap in xxhash64
    * for a cheaper non-oracle digest), so the two corpus-sized shuffles
    * (distinct (doc, digest) pairs for document frequency; the covered-
    * position count) carry only ids + digests. The boilerplate digest set
    * is df-thresholded and therefore small; the final count rides a
    * semi-join against it. Per-doc totals come from the gram-array size —
    * no extra shuffle. Fixed-point coverage (1e-6 units) keeps the output
    * integer-exact.
    *
    * Returns (doc_id, total_grams, boiler_grams, coverage_fp) for every
    * document (zeros when shorter than n words).
    */
  def boilerplateCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minDocs: Long = 5
  ): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(minDocs >= 2, s"boilerplate needs minDocs >= 2, got $minDocs")
    val pos = docs
      .select(col(idCol).as("doc_id"), explode(wordGrams(col(textCol), n)).as("g"))
    // ONE corpus-sized text pass: the (doc, gram) count table carries
    // position multiplicity, so document frequency (rows per gram),
    // covered positions (sum of cnt over boilerplate grams), AND the
    // per-doc gram totals (sum of all cnt — equal to size(grams)) all
    // derive from it. The gram digest/explode sits below the first
    // exchange, which ReuseExchange shares across the three consumers —
    // previously total_grams recomputed the gram pipeline a second time.
    val posCounts = pos.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val dfg = posCounts.groupBy("g").agg(count(lit(1)).as("df"))
    val boiler = dfg.where(col("df") >= minDocs).select("g")
    val covered = posCounts
      .join(boiler, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(sum("cnt").as("boiler_grams"))
    val totals = posCounts.groupBy("doc_id").agg(sum("cnt").as("total_grams"))
    // id-only left joins keep docs with zero grams in the result (they
    // have no posCounts rows); the id scan prunes to one column
    docs
      .select(col(idCol).as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("total_grams"), lit(0L)).as("total_grams"),
        coalesce(col("boiler_grams"), lit(0L)).as("boiler_grams")
      )
      .withColumn(
        "coverage_fp",
        when(
          col("total_grams") > 0,
          expr("(boiler_grams * 1000000) div total_grams")
        ).otherwise(lit(0L))
      )
  }

  /** Top-`k` vocabulary with cumulative corpus coverage — the tokenizer-
    * design question ("how much of the corpus do the top-N tokens cover")
    * answered in one pass. Returns (rank, word, cnt, cum_frac) ordered by
    * rank, where cum_frac is the fraction of ALL token occurrences covered
    * by ranks 1..rank.
    *
    * Scale shape: ONE corpus-size shuffle (the word histogram); the top-k
    * selection is TakeOrderedAndProject (k-heaps per partition, k rows to
    * the driver side of the plan); the running sum then windows over k
    * rows only, and the corpus total arrives as a 1-row broadcast — no
    * full-vocab global sort anywhere. Integer-exact except the one final
    * division (mirrored verbatim in the oracle).
    */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    val words = docs
      .select(explode(
        TextFunctions.bindOnce(
          split(Dedup.normalized(col(textCol)), " "),
          w => filter(w, t => length(t) > 0)
        )
      ).as("word"))
    val counts = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(desc("cnt"), col("word")).limit(k)
    val tot = counts.agg(sum("cnt").as("n_total"))
    // bounded window: k rows after the limit — never a corpus-wide sort
    val byRank = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), col("word"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("cnt"), col("word"))))
      .withColumn("cum_cnt", sum("cnt").over(byRank))
      .crossJoin(broadcast(tot))
      .select(
        col("rank"),
        col("word"),
        col("cnt"),
        (col("cum_cnt").cast("double") / col("n_total").cast("double")).as("cum_frac")
      )
      .orderBy("rank")
  }

  /** BPE merge-pair statistics: the top-`k` adjacent CHARACTER pairs by
    * corpus frequency over the initial (all-single-character) BPE state
    * — the first-iteration inner loop of byte-pair-encoding tokenizer
    * training, run distributed. Pair count = sum over vocabulary words
    * of (occurrences of the pair inside the word) x (word's corpus
    * frequency) — word-internal only, never across word boundaries,
    * matching standard BPE pre-tokenization.
    *
    * Scale shape: the only corpus-sized work is the word histogram (one
    * word-keyed shuffle with map-side combine, output bounded by
    * vocabulary). Pair generation then explodes the VOCABULARY — |vocab|
    * x avg word length rows, independent of corpus size — aggregates to
    * the pair alphabet, and takes top-k without a global sort
    * (TakeOrderedAndProject). Subsequent merge iterations re-run the
    * same plan over the re-segmented vocabulary; corpus text is never
    * touched again.
    */
  /** Iterated BPE merge training: run `rounds` full merge iterations of
    * byte-pair-encoding tokenizer training — per round, count adjacent
    * symbol pairs over the segmented vocabulary weighted by word
    * frequency, pick the most frequent pair (ties: lexicographic on the
    * pair), and apply the merge LEFT-TO-RIGHT GREEDY non-overlapping to
    * every word's segmentation (the standard BPE apply order). Output:
    * one row per round — `(round, pair_a, pair_b, n, n_symbols)` where
    * `n` is the winning pair's weighted count BEFORE the merge and
    * `n_symbols` the total weighted symbol count AFTER it — so each
    * row's stats depend on every previous round's re-segmentation, and
    * a hash over the rows pins the whole loop.
    *
    * Segmentations ride as delimiter-bounded strings (`"|l|o|w|"`); the
    * merge is a sequential fold: append each symbol unless it equals
    * `b` and the accumulator ends with boundary-delimited `a` — since a
    * merged symbol `a+b` can never equal `a` (b nonempty), this
    * reproduces left-to-right greedy exactly. Symbols are
    * [[graft.functions.TextFunctions.ftsTokens]] output (lowercase
    * alphanumeric), so the delimiter cannot occur inside a symbol.
    *
    * Scale shape: the corpus is touched ONCE for the word histogram;
    * every round's pair count, argmax, and re-segmentation then run
    * driver-local over the bounded VOCABULARY ([[trainBpeLocal]]).
    */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val (stats, _) = trainBpeLocal(docs, textCol, rounds)
    import spark.implicits._
    stats.toDF("round", "pair_a", "pair_b", "n", "n_symbols")
  }

  /** ONE corpus pass shared by every driver-local tokenizer trainer:
    * the (word, freq) histogram, row count checked against `maxVocab`
    * BEFORE the driver collect (Heaps' law keeps natural-language
    * vocabularies in the low millions even at 100 TB; a corpus past the
    * bound is noise-heavy and fails loudly with the caller's
    * remediation).
    */
  private def wordHistFrame(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextFunctions.ftsTokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))

  private def collectHist(
      histFrame: DataFrame,
      maxVocab: Long,
      caller: String,
      remediation: String
  ): Array[(String, Long)] = {
    val hist = histFrame.cache()
    val vocabSize = hist.count()
    require(vocabSize <= maxVocab,
      s"$caller: $vocabSize distinct words exceeds the driver-local bound $maxVocab — $remediation")
    val rows = hist.collect().map(r => (r.getString(0), r.getLong(1)))
    hist.unpersist()
    rows
  }

  private def wordHistLocal(
      docs: DataFrame,
      textCol: String,
      maxVocab: Long,
      caller: String,
      remediation: String
  ): Array[(String, Long)] =
    collectHist(wordHistFrame(docs, textCol), maxVocab, caller, remediation)

  /** The persisted tokenizer TRAINING CORPUS: the (word, freq) histogram
    * every tokenizer family trains from — wrapped like [[BigramLm]] so it
    * gets the same maintain-forever verbs. Counts are ASSOCIATIVE, so the
    * lifecycle never re-reads old text: [[wordHistogram]] scans a corpus
    * once; [[appendWordHistogram]] adds a new batch's counts in O(batch)
    * (parquet append of the batch's own histogram, replay-keyed);
    * [[loadWordHistogram]] re-sums the appended deltas exactly — load
    * after N appends equals one histogram over the concatenated corpora
    * (spec-pinned). Retraining any tokenizer from the grown histogram is
    * then the driver-local merge loop alone: seconds, zero corpus scans.
    */
  final case class WordHistogram(hist: DataFrame)

  /** Count a training corpus into a [[WordHistogram]] (one word-keyed
    * shuffle with map-side combine — the trainers' exact histogram).
    */
  def wordHistogram(docs: DataFrame, textCol: String): WordHistogram =
    WordHistogram(wordHistFrame(docs, textCol))

  /** Persist a histogram (vocabulary-sized parquet; `batch_key`
    * partitions replay bookkeeping — the initial write stamps "-").
    * Like every mutating histogram verb, runs under the store's writer
    * lease (r16 verdict #1: two drivers writing the store concurrently
    * would interleave undetected without it).
    */
  def writeWordHistogram(h: WordHistogram, path: String): Unit =
    graft.sources.StoreLease.withLease(path, "write-hist") {
      h.hist.select(col("word"), col("freq"), lit("-").as("batch_key"))
        .write.mode("overwrite").parquet(s"$path/hist")
    }

  /** Append ONE batch's counts to a persisted histogram in O(batch):
    * the batch is scanned once, old corpora never re-read. `batchKey`
    * must be unique per logical batch (the `runToken#batchId` convention)
    * — a crash-replayed append writes the SAME (word, freq, batch_key)
    * rows, which [[loadWordHistogram]] collapses before summing, so
    * replays can never double-count.
    */
  def appendWordHistogram(
      batch: DataFrame,
      textCol: String,
      path: String,
      batchKey: String
  ): Unit = graft.sources.StoreLease.withLease(path, "append-hist") {
    require(batchKey != "-",
      "appendWordHistogram: batch_key \"-\" is reserved for the initial writeWordHistogram stamp " +
        "— an append under it would collide with the base counts")
    wordHistFrame(batch, textCol)
      .select(col("word"), col("freq"), lit(batchKey).as("batch_key"))
      .write.mode("append").parquet(s"$path/hist")
  }

  /** Load a persisted histogram, collapsing appended deltas (and any
    * crash-replayed duplicate batches) to exact totals. LOUD on a
    * violated append contract: two DIFFERENT counts for one (word,
    * batch_key) means a batch key was reused across different batches —
    * silently keeping either row would corrupt training, so the load
    * raise_errors instead.
    */
  def loadWordHistogram(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): WordHistogram = {
    spark.catalog.refreshByPath(s"$path/hist") // appends change the listing
    WordHistogram(
      spark.read.parquet(s"$path/hist")
        .groupBy("word", "batch_key")
        .agg(min("freq").as("_mn"), max("freq").as("_mx"))
        .select(
          col("word"),
          when(col("_mn") === col("_mx"), col("_mn"))
            .otherwise(raise_error(concat(
              lit("loadWordHistogram: conflicting counts ("), col("_mn"),
              lit(" vs "), col("_mx"), lit(") for word '"), col("word"),
              lit("' under batch_key '"), col("batch_key"),
              lit("' — a batch key was reused across different batches"))))
            .as("freq"))
        .groupBy("word").agg(sum("freq").as("freq")))
  }

  /** Driver-local BPE merge training — the production path behind
    * [[bpeMerges]]. The corpus is touched by Spark exactly ONCE (the
    * word histogram, one word-keyed shuffle with map-side combine); the
    * bounded `(word, freq)` vocabulary is then pulled driver-side and
    * the entire merge loop runs locally with incremental pair-count
    * maintenance — merging pair p only touches words containing p, via
    * a pair→word-ids index — so 10k–50k merges cost zero Spark jobs
    * after the histogram, where a per-round Spark loop would pay one job
    * and one driver pull PER MERGE.
    *
    * Safety bound: the vocabulary row count is counted BEFORE collect
    * and must not exceed `maxVocab` (default 10M distinct words ≈ a few
    * GB driver heap for words + segmentations + pair index — natural-
    * language vocabularies plateau in the low millions even at 100 TB,
    * per Heaps' law; a corpus that trips the bound is noise-heavy and
    * should be pre-filtered).
    *
    * With `likelihood = true` the argmax switches to the WordPiece
    * score `count(ab) / (count(a) * count(b))` over maintained
    * per-symbol weighted counts — everything else (counting, apply,
    * output shape) is unchanged; see [[wordPieceMerges]].
    *
    * Semantics are pinned by the q_bpe_merges oracle and by golden
    * specs: pair counting at every adjacent position (overlapping
    * occurrences included, weighted by word frequency), argmax tie-break
    * on max n, then lexicographic pair_a, pair_b (tokens are ASCII so
    * Scala and UTF8-binary ordering agree), left-to-right greedy
    * non-overlapping apply. Returns the per-round
    * `(round, pair_a, pair_b, n, n_symbols)` stats and the final
    * segmented vocabulary as `(word, freq, symbols)`.
    */
  private[graft] def trainBpeLocal(
      docs: DataFrame,
      textCol: String,
      rounds: Int,
      maxVocab: Long = 10000000L,
      likelihood: Boolean = false
  ): (Seq[(Long, String, String, Long, Long)], Array[(String, Long, Seq[String])]) =
    trainBpeLocalFromRows(
      wordHistLocal(docs, textCol, maxVocab, "bpeMerges",
        "pre-filter the corpus"),
      rounds, likelihood)

  /** The merge loop over an already-collected histogram — order-
    * independent by construction (argmax ties break on values, tallies
    * are commutative sums), so a histogram loaded from parquet trains
    * bit-identically to a fresh corpus scan.
    */
  private def trainBpeLocalFromRows(
      rows: Array[(String, Long)],
      rounds: Int,
      likelihood: Boolean
  ): (Seq[(Long, String, String, Long, Long)], Array[(String, Long, Seq[String])]) = {
    require(rounds >= 1, s"bpeMerges: rounds must be >= 1, got $rounds")
    val nWords = rows.length
    val freqs = new Array[Long](nWords)
    val segs = new Array[scala.collection.mutable.ArrayBuffer[String]](nWords)
    val words = new Array[String](nWords)
    var i = 0
    while (i < nWords) {
      words(i) = rows(i)._1
      freqs(i) = rows(i)._2
      segs(i) = scala.collection.mutable.ArrayBuffer(words(i).map(_.toString): _*)
      i += 1
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.BitSet]
    // per-symbol weighted occurrence counts — the denominators of the
    // WordPiece likelihood score; maintained only when needed
    val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
    // add (sign=+1) or retract (sign=-1) word i's adjacent-pair contributions
    def tallyWord(w: Int, sign: Long): Unit = {
      val s = segs(w)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(w)
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0L) index.getOrElseUpdate(p, scala.collection.mutable.BitSet.empty) += w
        j += 1
      }
      if (likelihood) {
        var j2 = 0
        while (j2 < s.length) {
          val c = symCounts.getOrElse(s(j2), 0L) + sign * freqs(w)
          if (c == 0L) symCounts.remove(s(j2)) else symCounts(s(j2)) = c
          j2 += 1
        }
      }
    }
    var nSymbols = 0L
    i = 0
    while (i < nWords) {
      tallyWord(i, 1L)
      nSymbols += freqs(i) * segs(i).length
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]
    var r = 1
    while (r <= rounds) {
      require(counts.nonEmpty,
        s"bpeMerges: vocabulary exhausted all pairs before round $r — lower `rounds`")
      var bestA: String = null
      var bestB: String = null
      var bestN = Long.MinValue
      var bestS = Double.NegativeInfinity
      counts.foreach { case ((a, b), n) =>
        if (likelihood) {
          // WordPiece score: pair count over the product of its symbols'
          // counts. Exactly two IEEE ops (multiply, divide) on exactly-
          // converted longs — the oracle runs the identical expression,
          // so the ordering (ties: lexicographic) matches bit-for-bit at
          // any count magnitude.
          val sc = n.toDouble / (symCounts(a).toDouble * symCounts(b).toDouble)
          if (sc > bestS ||
            (sc == bestS && (a < bestA || (a == bestA && b < bestB)))) {
            bestA = a; bestB = b; bestN = n; bestS = sc
          }
        } else if (n > bestN ||
          (n == bestN && (a < bestA || (a == bestA && b < bestB)))) {
          bestA = a; bestB = b; bestN = n
        }
      }
      val mergedSym = bestA + bestB
      // stale ids (word no longer contains the pair) net to a no-op below
      val members = index.remove((bestA, bestB)).getOrElse(scala.collection.mutable.BitSet.empty)
      members.foreach { w =>
        tallyWord(w, -1L)
        val s = segs(w)
        val ns = new scala.collection.mutable.ArrayBuffer[String](s.length)
        var j = 0
        var nMerged = 0
        while (j < s.length) {
          if (j + 1 < s.length && s(j) == bestA && s(j + 1) == bestB) {
            ns += mergedSym; nMerged += 1; j += 2
          } else {
            ns += s(j); j += 1
          }
        }
        segs(w) = ns
        nSymbols -= nMerged.toLong * freqs(w)
        tallyWord(w, 1L)
      }
      counts.remove((bestA, bestB))
      out += ((r.toLong, bestA, bestB, bestN, nSymbols))
      r += 1
    }
    val finalVocab = Array.tabulate(nWords)(w => (words(w), freqs(w), segs(w).toSeq))
    (out.toSeq, finalVocab)
  }

  /** Apply a freshly-trained BPE tokenizer back to the corpus: per-doc
    * token counts under `rounds` merges — the ENCODE half of tokenizer
    * training ([[bpeMerges]] is the train half; both run the SAME
    * [[trainBpeLocal]] loop, so they cannot diverge). Output per
    * document: `n_words` (token occurrences), `n_chars` (summed word
    * lengths = the token count at zero merges), `n_tokens` (after the
    * merges) — the token-budget accounting a pipeline does before
    * packing sequences.
    *
    * Scale shape: ONE corpus pass for the training histogram (the
    * trainBpeLocal contract — the merge loop is driver-local, zero jobs
    * per merge), then the segmented VOCABULARY (bounded, independent of
    * corpus size) broadcasts against one exploded pass over the corpus
    * — apply is a join, never a per-occurrence re-fold. The join is
    * total by construction here (encode corpus = training corpus);
    * encoding a DIFFERENT corpus is [[bpeEncode]] (the OOV replay path).
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String, rounds: Int): DataFrame =
    tokenCountsLocal(docs, idCol, textCol, rounds, likelihood = false)

  /** WordPiece-style merge training (Schuster & Nakajima 2012 — the
    * BERT-family tokenizer): the [[bpeMerges]] loop with the LIKELIHOOD
    * argmax — each round merges the pair maximizing
    * `count(ab) / (count(a) * count(b))` (the corpus-LM likelihood gain
    * of the merge) instead of the raw pair count, so frequent-but-
    * generic pairs lose to strongly-associated ones. Same row shape as
    * [[bpeMerges]] (`n` = the winner's weighted pair count), same
    * single-corpus-pass + driver-local-loop scale contract
    * ([[trainBpeLocal]]), same greedy apply. The score is two IEEE
    * double ops on exactly-converted integer counts, mirrored verbatim
    * by the oracle; ties break lexicographically.
    */
  def wordPieceMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val (stats, _) = trainBpeLocal(docs, textCol, rounds, likelihood = true)
    import spark.implicits._
    stats.toDF("round", "pair_a", "pair_b", "n", "n_symbols")
  }

  /** [[bpeTokenCounts]] under WordPiece (likelihood-scored) training —
    * per-doc (n_words, n_chars, n_tokens) against the wordpiece-merged
    * vocabulary. Same broadcast-join apply shape.
    */
  def wordPieceTokenCounts(docs: DataFrame, idCol: String, textCol: String, rounds: Int): DataFrame =
    tokenCountsLocal(docs, idCol, textCol, rounds, likelihood = true)

  private def tokenCountsLocal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      likelihood: Boolean
  ): DataFrame = {
    val spark = docs.sparkSession
    val (_, finalVocab) = trainBpeLocal(docs, textCol, rounds, likelihood = likelihood)
    // parallelize, not a LocalRelation literal: the vocabulary can be
    // millions of rows (bound 10M) — as a plan literal it would dominate
    // plan size; as an RDD it is just data
    val segmented = spark.createDataFrame(
      spark.sparkContext
        .parallelize(finalVocab.toSeq, math.max(1, finalVocab.length / 500000))
        .map { case (w, _, seg) => (w, w.length.toLong, seg.length.toLong) })
      .toDF("word", "n_chars_w", "n_tokens_w")
    docs
      .select(col(idCol), explode(TextFunctions.ftsTokens(col(textCol))).as("word"))
      .join(broadcast(segmented), Seq("word"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_chars_w")).as("n_chars"),
        sum(col("n_tokens_w")).as("n_tokens"))
  }

  /** A trained, persistable tokenizer — THE train-once/apply-forever
    * artifact of a training-data pipeline. Each family's artifact is the
    * complete state its encoder needs (nothing re-derives from the
    * training corpus): BPE carries the ordered merge list, WordPiece the
    * merge list plus the training alphabet (longest-match vocabulary =
    * alphabet + merge products), unigram the whole-bit cost table. All
    * are bounded driver-side (merges = rounds; costs = alphabet + topK)
    * and broadcast to executors by closure. Lifecycle verbs follow the
    * persisted-index convention ([[graft.operators.VectorSearch.writeLsh]]):
    * train*Tokenizer → [[writeTokenizer]] → [[loadTokenizer]] → the
    * artifact overloads of [[bpeEncode]]/[[wordPieceEncode]]/
    * [[unigramTokenCounts]].
    */
  sealed trait Tokenizer

  /** Ordered BPE merges `(round, pair_a, pair_b)`, rank = round, plus the
    * training-corpus alphabet — the single-character tokens of the vocab
    * id space (without it an id table could not number the unmerged
    * symbols a replay leaves behind).
    */
  final case class BpeTokenizer(
      merges: Seq[(Long, String, String)],
      alphabet: Seq[String]) extends Tokenizer

  /** WordPiece merges + the training-corpus alphabet (sorted). */
  final case class WordPieceTokenizer(
      merges: Seq[(Long, String, String)],
      alphabet: Seq[String]) extends Tokenizer

  /** Unigram-LM cost table + the token total behind the OOV fallback
    * cost, plus the DP shape parameters the costs were trained under.
    */
  final case class UnigramTokenizer(
      costs: Map[String, Long],
      total: Long,
      maxSubLen: Int,
      maxWordLen: Int) extends Tokenizer

  /** The reserved unknown-token string of every [[tokenVocab]] (id 0).
    * Tokens are [[graft.functions.TextFunctions.ftsTokens]] output
    * (lowercase alphanumeric), so the angle brackets can never collide
    * with a real token.
    */
  val UnkToken: String = "<unk>"

  /** The STABLE (token_id, token) vocabulary of a trained tokenizer —
    * the id space [[bpeEncodeIds]] emits and a trainer's embedding
    * matrix is sized by. Deterministic from the artifact alone (no corpus, no ordering
    * dependence): id 0 is the reserved [[UnkToken]]; BPE/WordPiece then
    * number the sorted alphabet 1..A and the merge products A+1..A+R in
    * training-round order; unigram numbers its cost-table symbols in
    * sorted order. The degenerate corner where two distinct merges
    * concatenate to the SAME product string keeps the FIRST (lowest)
    * id — one string, one id.
    */
  def tokenVocab(tok: Tokenizer): Seq[(Long, String)] = {
    val ordered: Seq[String] = tok match {
      case BpeTokenizer(merges, alphabet) =>
        alphabet.sorted ++ merges.sortBy(_._1).map { case (_, a, b) => a + b }
      case WordPieceTokenizer(merges, alphabet) =>
        alphabet.sorted ++ merges.sortBy(_._1).map { case (_, a, b) => a + b }
      case UnigramTokenizer(costs, _, _, _) => costs.keysIterator.toSeq.sorted
    }
    val seen = scala.collection.mutable.HashSet.empty[String]
    val deduped = ordered.filter(seen.add)
    (0L, UnkToken) +: deduped.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
  }

  /** [[tokenVocab]] inverted for encoding (token -> id); bounded by the
    * artifact, broadcast to executors by closure like the merge maps.
    */
  private def vocabIds(tok: Tokenizer): Map[String, Long] =
    tokenVocab(tok).map { case (id, t) => t -> id }.toMap

  /** The one corpus-side assembly every id encoder shares: explode words
    * WITH their in-document position, run the family's word->ids UDF
    * once per DISTINCT word (vocabulary-bounded, broadcast back), then
    * reassemble each document's `input_ids` by flattening the per-word
    * id arrays in position order. Output per doc: `(idCol, input_ids:
    * array<bigint>, n_tokens)`; docs with zero words emit no row (the
    * count-encoder omission convention).
    *
    * Scale shape: the corpus is touched once; word text crosses the
    * shuffle once (the distinct); the only per-doc-sized payload is the
    * output ids themselves, grouped by a single id-keyed shuffle — the
    * unavoidable one, since `input_ids` IS the result. The in-group sort
    * is array_sort over one document's (pos, ids) structs, never a
    * corpus-wide window.
    */
  private def encodeIdsFrame(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      idsOfWord: org.apache.spark.sql.expressions.UserDefinedFunction
  ): DataFrame = {
    val words = docs
      .select(col(idCol), posexplode(TextFunctions.ftsTokens(col(textCol))))
      .select(col(idCol), col("pos").as("_pos"), col("col").as("word"))
    val segmented = words
      .select("word").distinct()
      .select(col("word"), idsOfWord(col("word")).as("_ids_w"))
    words
      .join(broadcast(segmented), Seq("word"))
      .groupBy(idCol)
      .agg(
        flatten(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_ids_w")))),
            s => s.getField("_ids_w"))).as("input_ids"))
      .select(col(idCol), col("input_ids"),
        size(col("input_ids")).cast("long").as("n_tokens"))
  }

  /** Train the BPE merge list as a persistable artifact (the
    * [[bpeMerges]] loop, keeping only what encoding needs).
    */
  def trainBpeTokenizer(
      docs: DataFrame,
      textCol: String,
      rounds: Int,
      maxVocab: Long = 10000000L
  ): BpeTokenizer = {
    val (stats, finalVocab) = trainBpeLocal(docs, textCol, rounds, maxVocab)
    BpeTokenizer(
      stats.map { case (r, a, b, _, _) => (r, a, b) },
      finalVocab.iterator.flatMap(_._1.map(_.toString)).toSet.toSeq.sorted)
  }

  /** Train the WordPiece artifact: likelihood-scored merges plus the
    * training alphabet (the longest-match vocabulary's base symbols —
    * without it a loaded tokenizer could not tell a never-seen character
    * from a trained one).
    */
  def trainWordPieceTokenizer(
      docs: DataFrame,
      textCol: String,
      rounds: Int,
      maxVocab: Long = 10000000L
  ): WordPieceTokenizer = {
    val (stats, finalVocab) = trainBpeLocal(docs, textCol, rounds, maxVocab, likelihood = true)
    WordPieceTokenizer(
      stats.map { case (r, a, b, _, _) => (r, a, b) },
      finalVocab.iterator.flatMap(_._1.map(_.toString)).toSet.toSeq.sorted)
  }

  /** Train each family from a persisted/maintained [[WordHistogram]]
    * instead of a corpus scan — the RETRAIN half of the tokenizer
    * lifecycle: after [[appendWordHistogram]] folds in new batches,
    * retraining costs the driver-local merge loop alone, zero corpus
    * reads. Bit-identical to the corpus form on the same counts
    * (spec-pinned: the loops are order-independent). No default
    * arguments here (Scala forbids defaults on two overloads) — pass
    * the corpus form's defaults explicitly.
    */
  def trainBpeTokenizer(h: WordHistogram, rounds: Int, maxVocab: Long): BpeTokenizer = {
    val (stats, finalVocab) = trainBpeLocalFromRows(
      collectHist(h.hist, maxVocab, "trainBpeTokenizer", "prune the histogram"),
      rounds, likelihood = false)
    BpeTokenizer(
      stats.map { case (r, a, b, _, _) => (r, a, b) },
      finalVocab.iterator.flatMap(_._1.map(_.toString)).toSet.toSeq.sorted)
  }

  /** See the [[WordHistogram]] overload of [[trainBpeTokenizer]]. */
  def trainWordPieceTokenizer(h: WordHistogram, rounds: Int, maxVocab: Long): WordPieceTokenizer = {
    val (stats, finalVocab) = trainBpeLocalFromRows(
      collectHist(h.hist, maxVocab, "trainWordPieceTokenizer", "prune the histogram"),
      rounds, likelihood = true)
    WordPieceTokenizer(
      stats.map { case (r, a, b, _, _) => (r, a, b) },
      finalVocab.iterator.flatMap(_._1.map(_.toString)).toSet.toSeq.sorted)
  }

  /** See the [[WordHistogram]] overload of [[trainBpeTokenizer]]. */
  def trainUnigramTokenizer(
      h: WordHistogram,
      maxSubLen: Int,
      topK: Int,
      minCount: Long,
      emRounds: Int,
      maxWordLen: Int,
      maxVocab: Long
  ): UnigramTokenizer =
    trainUnigramFromRows(
      collectHist(h.hist, maxVocab, "trainUnigramTokenizer", "prune the histogram"),
      maxSubLen, topK, minCount, emRounds, maxWordLen)

  /** Persist a trained tokenizer: flat parquet per bounded table plus a
    * `tokenizer.json` sidecar naming the family and scalar parameters —
    * the [[graft.operators.VectorSearch.writeLsh]] layout. Engine-neutral:
    * any parquet reader can reconstruct the tokenizer. Every artifact
    * also carries its STABLE id table (`vocab`: token_id, token — the
    * [[tokenVocab]] numbering the id encoders emit), so a trainer-side
    * consumer can decode `input_ids` without this library; the loader
    * re-DERIVES ids from the family tables rather than reading `vocab`
    * back, so the two can never desynchronize.
    */
  def writeTokenizer(
      spark: org.apache.spark.sql.SparkSession,
      tok: Tokenizer,
      path: String
  ): Unit = graft.sources.StoreLease.withLease(path, "write-tokenizer") {
    def sidecar(json: String): Unit =
      graft.util.Sidecar.write(spark, s"$path/tokenizer.json", json)
    def writeMerges(merges: Seq[(Long, String, String)]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(merges, 1))
        .toDF("round", "pair_a", "pair_b")
        .write.mode("overwrite").parquet(s"$path/merges")
    def writeAlphabet(alphabet: Seq[String]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(alphabet.map(Tuple1(_)), 1))
        .toDF("symbol")
        .write.mode("overwrite").parquet(s"$path/alphabet")
    spark.createDataFrame(spark.sparkContext.parallelize(tokenVocab(tok), 1))
      .toDF("token_id", "token")
      .write.mode("overwrite").parquet(s"$path/vocab")
    tok match {
      case BpeTokenizer(merges, alphabet) =>
        writeMerges(merges)
        writeAlphabet(alphabet)
        sidecar(s"""{"family":"bpe","rounds":${merges.length}}""")
      case WordPieceTokenizer(merges, alphabet) =>
        writeMerges(merges)
        writeAlphabet(alphabet)
        sidecar(s"""{"family":"wordpiece","rounds":${merges.length}}""")
      case UnigramTokenizer(costs, total, maxSubLen, maxWordLen) =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(costs.toSeq.sortBy(_._1), 1))
          .toDF("symbol", "cost")
          .write.mode("overwrite").parquet(s"$path/costs")
        sidecar(s"""{"family":"unigram","total":$total,""" +
          s""""maxSubLen":$maxSubLen,"maxWordLen":$maxWordLen}""")
    }
  }

  /** Load a persisted tokenizer (inverse of [[writeTokenizer]]; loud on
    * a missing/unknown artifact). The collects are bounded by the
    * artifact's own tables (merges = rounds, costs = alphabet + topK),
    * guarded like every driver pull in this file.
    */
  def loadTokenizer(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): Tokenizer = {
    val where = s"$path/tokenizer.json"
    val json = graft.util.Sidecar.read(spark, where)
    def num(key: String): Long = graft.util.Sidecar.num(json, key, where)
    val family = """"family":"([a-z]+)"""".r.findFirstMatchIn(json).map(_.group(1))
    def bounded(df: DataFrame, what: String): Array[org.apache.spark.sql.Row] = {
      val cached = df.cache()
      val n = cached.count()
      require(n <= 10000000L,
        s"loadTokenizer: $what at $path carries $n rows — past the 10M driver-local bound; " +
          "the artifact is corrupt or not a tokenizer")
      val rows = cached.collect()
      cached.unpersist()
      rows
    }
    def merges(): Seq[(Long, String, String)] =
      bounded(spark.read.parquet(s"$path/merges"), "merge table")
        .map(r => (r.getAs[Long]("round"), r.getAs[String]("pair_a"), r.getAs[String]("pair_b")))
        .sortBy(_._1).toSeq
    def alphabet(): Seq[String] =
      bounded(spark.read.parquet(s"$path/alphabet"), "alphabet")
        .map(_.getAs[String]("symbol")).sorted.toSeq
    family match {
      case Some("bpe") => BpeTokenizer(merges(), alphabet())
      case Some("wordpiece") =>
        WordPieceTokenizer(merges(), alphabet())
      case Some("unigram") =>
        UnigramTokenizer(
          bounded(spark.read.parquet(s"$path/costs"), "cost table")
            .map(r => r.getAs[String]("symbol") -> r.getAs[Long]("cost")).toMap,
          num("total"), num("maxSubLen").toInt, num("maxWordLen").toInt)
      case other =>
        throw new IllegalArgumentException(
          s"loadTokenizer: unknown tokenizer family $other at $path/tokenizer.json")
    }
  }

  /** Encode an ARBITRARY corpus with merges trained on another — the OOV
    * half the [[bpeTokenCounts]] scaladoc left as a seam. Trains on
    * `trainDocs` via [[trainBpeLocal]] (one corpus pass + local loop),
    * then segments the APPLY corpus's distinct words by replaying the
    * merge list IN TRAINING ORDER, implemented as lowest-present-rank
    * with a MONOTONE CURSOR: the next applied rank is the minimum
    * present rank >= the last applied one. The cursor matters in one
    * degenerate corner — two distinct trained merges concatenating to
    * the SAME symbol string (e.g. ab+c and a+bc both -> "abc"): applying
    * the later one can re-create a pair whose rank already passed, which
    * training itself (and the single ordered fold the q_bpe_encode_oov
    * oracle runs) leaves UNMERGED. The cursor skips it identically, so
    * engine == training == oracle in every case, at O(len^2) per
    * distinct word instead of O(rounds x len).
    *
    * Output per apply-side document: `(idCol, n_words, n_chars,
    * n_tokens)` — the [[bpeTokenCounts]] shape, which this must equal
    * when apply == train (spec-pinned).
    *
    * Scale shape: the apply corpus is touched once to explode words; the
    * segmentation runs once per DISTINCT word (vocabulary-bounded, after
    * a word-keyed map-side-combined aggregation) with the merge-rank map
    * a broadcast read-only local; per-doc counts then reduce by id. Word
    * text crosses the shuffle once (the distinct), never per occurrence.
    */
  def bpeEncode(
      trainDocs: DataFrame,
      applyDocs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      maxVocab: Long = 10000000L
  ): DataFrame =
    bpeEncode(trainBpeTokenizer(trainDocs, textCol, rounds, maxVocab), applyDocs, idCol, textCol)

  /** [[bpeEncode]] from a TRAINED artifact — the apply-every-batch half
    * of the train-once tokenizer lifecycle ([[trainBpeTokenizer]] /
    * [[writeTokenizer]] / [[loadTokenizer]]): no training corpus in
    * sight, just the ordered merge list replayed over the apply corpus's
    * distinct words. The two-corpus overload above delegates here, so
    * fresh-trained and loaded-artifact encodes cannot diverge.
    */
  /** The merge-replay segmentation itself (the [[bpeEncode]] scaladoc's
    * monotone-cursor loop), extracted so the count and id encoders run
    * the IDENTICAL replay and can never segment differently.
    */
  private def bpeSegmentWord(
      ranks: Map[(String, String), Long],
      word: String
  ): Array[String] = {
    var seg = word.map(_.toString).toArray
    var cursor = Long.MinValue // ranks already passed never re-apply
    var done = false
    while (!done && seg.length >= 2) {
      var bestRank = Long.MaxValue
      var bestA: String = null
      var bestB: String = null
      var j = 0
      while (j < seg.length - 1) {
        ranks.get((seg(j), seg(j + 1))).foreach { r =>
          if (r >= cursor && r < bestRank) { bestRank = r; bestA = seg(j); bestB = seg(j + 1) }
        }
        j += 1
      }
      if (bestA == null) done = true
      else {
        cursor = bestRank + 1
        val ns = new scala.collection.mutable.ArrayBuffer[String](seg.length)
        var i = 0
        while (i < seg.length) {
          if (i + 1 < seg.length && seg(i) == bestA && seg(i + 1) == bestB) {
            ns += bestA + bestB; i += 2
          } else { ns += seg(i); i += 1 }
        }
        seg = ns.toArray
      }
    }
    seg
  }

  def bpeEncode(
      tok: BpeTokenizer,
      applyDocs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val ranks: Map[(String, String), Long] =
      tok.merges.map { case (r, a, b) => (a, b) -> r }.toMap
    val segLen = udf { (word: String) => bpeSegmentWord(ranks, word).length.toLong }
    val words = applyDocs
      .select(col(idCol), explode(TextFunctions.ftsTokens(col(textCol))).as("word"))
    val segmented = words
      .select("word").distinct()
      .select(
        col("word"),
        length(col("word")).cast("long").as("n_chars_w"),
        segLen(col("word")).as("n_tokens_w"))
    // deliberately NOT persisted: within one action the UDF already runs
    // once per DISTINCT word (one narrow vocabulary-bounded stage), and
    // any persistence here leaks driver-held state per call in a
    // per-batch pipeline (localCheckpoint pins blocks until ContextCleaner
    // GC; SQL cache() entries are held strongly FOREVER by the
    // CacheManager). Callers that act repeatedly on the result should
    // pin the OUTPUT and release it themselves (Checkpoints.pin/release).
    words
      .join(broadcast(segmented), Seq("word"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_chars_w")).as("n_chars"),
        sum(col("n_tokens_w")).as("n_tokens"))
  }

  /** BPE encode to REAL token-ID sequences: per apply-doc `input_ids` —
    * the per-word merge-replay segmentation ([[bpeSegmentWord]], the
    * exact loop [[bpeEncode]] counts) mapped through the artifact's
    * stable [[tokenVocab]] ids and concatenated in document word order.
    * This is what a trainer consumes: `size(input_ids)` equals
    * [[bpeEncode]]'s `n_tokens` by construction (spec-pinned), and
    * [[graft.operators.SequencePacking.packSequences]] packs these rows
    * into fixed-budget training sequences. A symbol outside the vocab
    * (an apply-corpus character never seen in training) encodes as the
    * reserved [[UnkToken]] id 0, per-symbol — the char-fallback BPE
    * convention, distinct from WordPiece's whole-word UNK.
    *
    * Scale shape: [[encodeIdsFrame]] — one corpus pass, segmentation
    * once per distinct word, ids reassembled per doc by one id-keyed
    * shuffle whose payload is the output itself.
    */
  def bpeEncodeIds(
      tok: BpeTokenizer,
      applyDocs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val ranks: Map[(String, String), Long] =
      tok.merges.map { case (r, a, b) => (a, b) -> r }.toMap
    val ids = vocabIds(tok)
    val idsOfWord = udf { (word: String) =>
      bpeSegmentWord(ranks, word).map(s => ids.getOrElse(s, 0L)).toSeq
    }
    encodeIdsFrame(applyDocs, idCol, textCol, idsOfWord)
  }

  /** WordPiece INFERENCE encode — greedy longest-match, the algorithm
    * BERT runs at serving time (Schuster & Nakajima 2012; distinct from
    * the merge-replay [[bpeEncode]] uses): the vocabulary is the
    * training alphabet plus every trained merge product, and each apply
    * word is consumed left to right by the LONGEST vocabulary symbol
    * that prefixes the remaining suffix. A word with any unmatched
    * position becomes one [UNK] token (the whole-word-UNK BERT
    * convention — only possible for characters never seen in training).
    * Returns per apply-doc `(idCol, n_words, n_tokens, n_unk)`.
    *
    * Longest-match and merge-replay genuinely differ: replay segments
    * exactly as training did, longest-match can pick a longer symbol
    * whose PARTS were trained from different merges — both are
    * pinned by oracle (q_wordpiece_encode vs q_wordpiece_infer).
    *
    * Scale shape: the [[bpeEncode]] contract — one corpus pass to
    * explode words, the match UDF runs once per DISTINCT word against a
    * broadcast vocabulary set, per-doc counts reduce by id.
    */
  def wordPieceEncode(
      trainDocs: DataFrame,
      applyDocs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      maxVocab: Long = 10000000L
  ): DataFrame =
    wordPieceEncode(
      trainWordPieceTokenizer(trainDocs, textCol, rounds, maxVocab), applyDocs, idCol, textCol)

  /** [[wordPieceEncode]] from a TRAINED artifact (greedy longest-match
    * against the persisted alphabet + merge products) — the
    * loaded-tokenizer serving path; the two-corpus overload above
    * delegates here so the paths cannot diverge.
    */
  def wordPieceEncode(
      tok: WordPieceTokenizer,
      applyDocs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val vocab: Set[String] =
      tok.alphabet.toSet ++ tok.merges.iterator.map { case (_, a, b) => a + b }
    val maxLen = if (vocab.isEmpty) 1 else vocab.iterator.map(_.length).max
    val enc = udf { (word: String) =>
      var pos = 0
      var toks = 0L
      var ok = true
      while (ok && pos < word.length) {
        var l = math.min(maxLen, word.length - pos)
        var found = 0
        while (found == 0 && l >= 1) {
          if (vocab.contains(word.substring(pos, pos + l))) found = l else l -= 1
        }
        if (found == 0) ok = false
        else { pos += found; toks += 1 }
      }
      if (ok) (toks, 0L) else (1L, 1L)
    }
    val words = applyDocs
      .select(col(idCol), explode(TextFunctions.ftsTokens(col(textCol))).as("word"))
    val segmented = words
      .select("word").distinct()
      .withColumn("_e", enc(col("word")))
      .select(col("word"), col("_e._1").as("n_tokens_w"), col("_e._2").as("unk_w"))
    // not persisted — the bpeEncode rationale: stateless per action,
    // zero leaked driver-held entries in per-batch pipelines
    words
      .join(broadcast(segmented), Seq("word"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_tokens_w")).as("n_tokens"),
        sum(col("unk_w")).as("n_unk"))
  }

  /** Unigram-LM (SentencePiece-style, Kudo 2018) tokenization with
    * WHOLE-BIT integer costs — the third tokenizer family next to BPE
    * (count-greedy merges) and WordPiece (likelihood-greedy merges):
    * here the vocabulary is fixed up front (corpus alphabet + the top-K
    * frequent substrings of length 2..`maxSubLen`) and each word takes
    * the GLOBALLY optimal segmentation by Viterbi DP under per-token
    * surprisal costs `bits(N) - bits(cnt)` (the repo's whole-bit LM
    * convention — integer, so engine == oracle exactly; real
    * SentencePiece uses float log-probs and EM-with-pruning, the
    * documented divergence). DP objective: minimize total cost, ties to
    * fewer tokens — prefix-optimal because a common suffix shifts both
    * candidates equally, so the per-position (cost, ntoks) minimum is
    * exact. Words longer than `maxWordLen` count as ONE fallback token
    * at cost `bits(N)` (the max-piece-length contract; the oracle
    * unrolls the DP exactly `maxWordLen` positions).
    *
    * `emRounds` >= 1 runs hard-EM re-estimation driver-side: Viterbi-
    * segment the (word, freq) vocabulary, re-count symbol usage
    * (weighted, add-one smoothed so unused symbols survive with the
    * floor count instead of dividing by zero), re-derive costs, repeat.
    * The query surface pins emRounds = 0 (the oracle-exact seed-LM
    * Viterbi); EM rounds are spec-pinned.
    *
    * Scale shape: ONE corpus pass (the word histogram, bounded by
    * `maxVocab` before the driver collect — the trainBpeLocal
    * contract); seeding, costs and every EM round run over the bounded
    * vocabulary driver-side; the apply pass segments each DISTINCT word
    * once via a broadcast cost map and reduces per doc. Returns per doc
    * `(idCol, n_words, n_tokens, cost_bits)`.
    */
  def unigramTokenCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxSubLen: Int = 4,
      topK: Int = 200,
      minCount: Long = 2L,
      emRounds: Int = 0,
      maxWordLen: Int = 16,
      maxVocab: Long = 10000000L
  ): DataFrame =
    unigramTokenCounts(
      trainUnigramTokenizer(
        docs, textCol, maxSubLen, topK, minCount, emRounds, maxWordLen, maxVocab),
      docs, idCol, textCol)

  /** Train the unigram-LM tokenizer artifact (seed vocabulary + whole-bit
    * costs + optional hard-EM rounds — see [[unigramTokenCounts]] for the
    * semantics): the bounded cost table a session persists with
    * [[writeTokenizer]] and every later batch scores against without
    * touching the training corpus.
    */
  def trainUnigramTokenizer(
      docs: DataFrame,
      textCol: String,
      maxSubLen: Int = 4,
      topK: Int = 200,
      minCount: Long = 2L,
      emRounds: Int = 0,
      maxWordLen: Int = 16,
      maxVocab: Long = 10000000L
  ): UnigramTokenizer =
    trainUnigramFromRows(
      wordHistLocal(docs, textCol, maxVocab, "unigramTokenCounts", "pre-filter the corpus"),
      maxSubLen, topK, minCount, emRounds, maxWordLen)

  /** The seed/EM loop over an already-collected histogram (order-
    * independent: all tallies are commutative sums, selections sort by
    * value) — shared by the corpus and [[WordHistogram]] entry points.
    */
  private def trainUnigramFromRows(
      words: Array[(String, Long)],
      maxSubLen: Int,
      topK: Int,
      minCount: Long,
      emRounds: Int,
      maxWordLen: Int
  ): UnigramTokenizer = {
    require(maxSubLen >= 2, s"need maxSubLen >= 2, got $maxSubLen")
    require(topK >= 0, s"need topK >= 0, got $topK")
    require(minCount >= 1L, s"need minCount >= 1, got $minCount")
    require(emRounds >= 0, s"need emRounds >= 0, got $emRounds")
    require(maxWordLen >= 1 && maxWordLen <= 62,
      s"need maxWordLen in [1, 62] (the ntoks field of the packed DP state), got $maxWordLen")

    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    // weighted substring counts (overlapping), lengths 1..maxSubLen
    val subCounts = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- words; t <- 1 to math.min(maxSubLen, w.length); i <- 0 to w.length - t) {
      val s = w.substring(i, i + t)
      subCounts(s) = subCounts.getOrElse(s, 0L) + f
    }
    val alphabet = subCounts.iterator.filter(_._1.length == 1).toArray
    val longer = subCounts.iterator
      .filter { case (s, c) => s.length >= 2 && c >= minCount }
      .toArray
      .sortBy { case (s, c) => (-c, s) }
      .take(topK)
    var vocab: Map[String, Long] = (alphabet ++ longer).toMap
    var total = vocab.valuesIterator.sum
    var costs: Map[String, Long] = vocab.map { case (s, c) => s -> (bitlen(total) - bitlen(c)) }

    // the segmentation itself, for EM usage re-counts (the same DP body
    // the apply surface runs — unigramViterbiDp — so EM and scoring
    // cannot desynchronize); overlong/no-path words fall back whole
    def viterbiPath(w: String): Seq[String] =
      unigramViterbiPath(costs, maxSubLen, maxWordLen, w).getOrElse(Seq(w))
    for (_ <- 1 to emRounds) {
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- words; s <- viterbiPath(w); if vocab.contains(s))
        usage(s) = usage.getOrElse(s, 0L) + f
      // add-one smoothing keeps every vocabulary symbol segmentable
      vocab = vocab.map { case (s, _) => s -> (usage.getOrElse(s, 0L) + 1L) }
      total = vocab.valuesIterator.sum
      costs = vocab.map { case (s, c) => s -> (bitlen(total) - bitlen(c)) }
    }
    UnigramTokenizer(costs, total, maxSubLen, maxWordLen)
  }

  /** Packed DP state: cost * 64 + ntoks (ntoks <= maxWordLen <= 62) —
    * the lexicographic (cost, ntoks) minimum as one integer min. ONE DP
    * body serves the scoring surface, the EM re-count and the
    * loaded-artifact apply so the paths cannot desynchronize; returns
    * None when the word is overlong or has no path (apply-side
    * never-seen char — train-corpus words always have one, the alphabet
    * is in the vocabulary), the shared fallback signal.
    */
  private def unigramViterbiDp(
      costs: Map[String, Long],
      maxSubLen: Int,
      maxWordLen: Int,
      w: String
  ): Option[(Array[Long], Array[Int])] = {
    if (w.length > maxWordLen) return None
    val best = Array.fill(w.length + 1)(Long.MaxValue)
    val back = Array.fill(w.length + 1)(0)
    best(0) = 0L
    var j = 1
    while (j <= w.length) {
      var t = 1
      val tMax = math.min(maxSubLen, j)
      while (t <= tMax) {
        if (best(j - t) != Long.MaxValue) {
          costs.get(w.substring(j - t, j)).foreach { c =>
            val cand = best(j - t) + c * 64L + 1L
            if (cand < best(j)) { best(j) = cand; back(j) = t }
          }
        }
        t += 1
      }
      j += 1
    }
    if (best(w.length) == Long.MaxValue) None else Some((best, back))
  }

  /** Backtrace of [[unigramViterbiDp]]: the optimal SEGMENTATION, shared
    * by EM re-counts and the id encoder so the path and the packed
    * (cost, ntoks) scoring can never disagree. None = the DP's fallback
    * signal (overlong word / never-seen character).
    */
  private def unigramViterbiPath(
      costs: Map[String, Long],
      maxSubLen: Int,
      maxWordLen: Int,
      w: String
  ): Option[Seq[String]] =
    unigramViterbiDp(costs, maxSubLen, maxWordLen, w).map { case (_, back) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = w.length
      while (pos > 0) { out.prepend(w.substring(pos - back(pos), pos)); pos -= back(pos) }
      out.toSeq
    }

  /** [[unigramTokenCounts]] from a TRAINED artifact — Viterbi-segment
    * each distinct apply word against the loaded cost table (broadcast
    * read-only local), reduce per doc. The train-and-apply overload
    * above delegates here so the paths cannot diverge.
    */
  def unigramTokenCounts(
      tok: UnigramTokenizer,
      docs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val (costs, maxSubLen, maxWordLen) = (tok.costs, tok.maxSubLen, tok.maxWordLen)
    val fallback = bitlen(tok.total) * 64L + 1L
    val packed = udf((w: String) =>
      unigramViterbiDp(costs, maxSubLen, maxWordLen, w).fold(fallback)(_._1(w.length)))
    val words = docs.select(col(idCol), explode(TextFunctions.ftsTokens(col(textCol))).as("word"))
    val segmented = words
      .select("word").distinct()
      .withColumn("_p", packed(col("word")))
      .select(
        col("word"),
        (col("_p") % 64L).as("n_tokens_w"),
        expr("_p div 64").as("cost_w"))
    // not persisted — the bpeEncode rationale: stateless per action,
    // zero leaked driver-held entries in per-batch pipelines
    words
      .join(broadcast(segmented), Seq("word"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_tokens_w")).as("n_tokens"),
        sum(col("cost_w")).as("cost_bits"))
  }

  def bpePairStats(docs: DataFrame, textCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, s"bpePairStats: k must be >= 1, got $k")
    val wordCounts = docs
      .select(explode(TextFunctions.ftsTokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
    wordCounts
      .where(length(col("word")) >= 2)
      .select(
        col("freq"),
        explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(k)
  }
}
