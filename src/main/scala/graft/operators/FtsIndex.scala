package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.util.Checkpoints
import graft.util.SessionIndices.Resident

/** Full-text search: inverted-index build + BM25 scoring as pure DataFrame
  * algebra (reference behavior: LanceDB/Tantivy FTS index built per batch at
  * src/load/lancedb_store.py:104-112 and queried at
  * src/load/lancedb_store.py:192-222).
  *
  * Scale design:
  *   - The session-resident postings ([[buildCached]], [[following]])
  *     are hash-partitioned by `term` into the session's shuffle-partition
  *     count — the single shuffle of the build, placed before the
  *     `groupBy(doc, term)` tf count — and pinned eagerly with that
  *     partitioning stated (`graftbridge.keepHashPartitioning`).
  *     Every fragment is laid out the same way, so their union keeps it
  *     too. At 100 TB the postings table is written bucketed by term so
  *     query-time term lookups touch only matching buckets.
  *   - Corpus stats (N, avgdl) are two scalars; per-term document
  *     frequencies are derived at QUERY time over the query's terms only
  *     (a window count on the isin-filtered postings, which reads each
  *     term's rows where they sit — no Exchange), and the index itself
  *     stays df-free so growing it by new files is a pure append.
  *   - Query-side scoring is: filter postings to the query's terms, the
  *     per-term df window, per-(doc,term) BM25 term score, then a single
  *     `groupBy(doc)` sum — one shuffle, over candidate docs only.
  */
object FtsIndex {

  /** Inverted index: one row per (doc, term) with term frequency and doc
    * length. Document frequencies are NOT materialized in the postings —
    * they are derived query-side over the query's terms only (a window
    * count on the already-filtered postings). That keeps index
    * maintenance a pure APPEND: a new batch's postings union in without
    * touching (or staleing) any existing row, which is what makes
    * incremental ingest O(batch) instead of O(corpus) — see [[following]].
    *
    * The corpus stats carry the integer doc-length total, not a running
    * mean: `avgDocLen` is `totalDocLen / numDocs`, which is bit-equal to
    * Spark's `avg` over the int `doc_len` column (a double sum of ints,
    * exact below 2^53, divided by the count), so an appended index and a
    * rebuild over the same rows score identically.
    */
  final case class Index(
      postings: DataFrame,
      numDocs: Long,
      totalDocLen: Long,
      // the pinned postings fragments `postings` unions (empty for a
      // single build); a resident entry owns their checkpoint RDDs and
      // releases every one it does not carry over when it is replaced,
      // or a long-lived session would leak one pin per batch
      retained: Seq[DataFrame] = Nil
  ) {
    def avgDocLen: Double = if (numDocs == 0) 0.0 else totalDocLen.toDouble / numDocs
  }

  /** Build the index over `textCol` of `docs` keyed by `idCol`.
    * Equivalent of S7 `create_fts_index` (src/load/lancedb_store.py:104-112).
    * The postings DataFrame is persisted lazily: the build is an
    * ingest-time step (the reference rebuilds its FTS index once per
    * batch, *after* load, src/pipeline.py:164-165) and query-time search
    * must only read it. The session-resident index is pinned eagerly
    * instead (see [[pinnedIndex]]). At cluster scale, substitute
    * `postings.write.bucketBy(n, "term")` for `persist` — same contract.
    */
  def build(docs: DataFrame, idCol: String, textCol: String): Index = {
    val tokens = tokenized(docs, idCol, textCol)
    val stats = tokens.agg(count(lit(1)), sum(col("doc_len").cast("long"))).head()
    // sum over an empty corpus is NULL — an empty index must still search
    Index(termFreq(tokens).persist(), stats.getLong(0), if (stats.isNullAt(1)) 0L else stats.getLong(1))
  }

  /** Resident postings: hash-partitioned by `term` into the session's
    * shuffle-partition count before the tf count, and pinned eagerly with
    * that partitioning stated, so the query-side df window needs no
    * Exchange. Every fragment of one session gets the same partition
    * count, so a union of fragments keeps the partitioning. The corpus
    * stats are observed on the token rows inside the pin job.
    */
  private def pinnedIndex(docs: DataFrame, idCol: String, textCol: String): Index = {
    val stats = new Observation()
    val tokens = tokenized(docs, idCol, textCol)
      .observe(stats, count(lit(1)).as("n"), sum(col("doc_len").cast("long")).as("total"))
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val postings = termFreq(tokens, _.repartition(n, col("term")))
    val pinned = org.apache.spark.sql.graftbridge.keepHashPartitioning(Checkpoints.pin(postings), postings)
    Index(pinned, Checkpoints.observed(stats, "n"), Checkpoints.observed(stats, "total"))
  }

  /** One (doc_id, tokens, doc_len) row per document. */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextFunctions.ftsTokens(col(textCol)).as("tokens"))
      .withColumn("doc_len", size(col("tokens")))

  /** (doc_id, doc_len, term, tf) postings; `layout` places the token rows first. */
  private def termFreq(tokens: DataFrame, layout: DataFrame => DataFrame = identity): DataFrame =
    layout(tokens.select(col("doc_id"), col("doc_len"), explode(col("tokens")).as("term")))
      .groupBy("doc_id", "doc_len", "term").agg(count(lit(1)).as("tf"))

  /** Extend `index` with `newDocs` WITHOUT touching the existing
    * postings — an O(batch) union plus a constant stats update, vs the
    * reference's O(corpus) per-batch index rebuild. The new postings are
    * pinned like a resident build's, so only a resident entry may hold
    * the result: replacing the entry releases the pins.
    */
  private def append(index: Index, newDocs: DataFrame, idCol: String, textCol: String): Index = {
    val batch = pinnedIndex(newDocs, idCol, textCol)
    Index(
      index.postings.unionByName(batch.postings),
      index.numDocs + batch.numDocs,
      index.totalDocLen + batch.totalDocLen,
      retained = fragments(index) :+ batch.postings
    )
  }

  private def fragments(index: Index): Seq[DataFrame] =
    if (index.retained.isEmpty) Seq(index.postings) else index.retained

  // Session-resident index per corpus key, so the query side (BM25 /
  // hybrid / context assembly) reads rather than rebuilds — mirroring the
  // reference's write-then-index lifecycle.
  private val resident = graft.util.SessionIndices.namespace[Index]("fts")

  /** A resident index over a table's files, stamped with the (path, size,
    * mtime) of every file it covers.
    */
  private final case class Stamped(files: Seq[(String, Long, Long)], index: Index)
  private val overFiles = graft.util.SessionIndices.namespace[Stamped]("fts-files")

  /** Once the index has this many postings fragments, the next growth
    * folds them back into one build instead of adding another, so a
    * long-lived stream keeps a bounded union for every search to plan and
    * scan.
    */
  private val MaxFragments = 8

  /** A resident entry owns the pins of every fragment its postings
    * union. Every fragment is pinned at once, so a later write to the
    * table it was read from cannot change what it holds.
    */
  private def owned(idx: Index): Resident[Index] = Resident.pinning(idx, idx.postings)

  def buildCached(key: String, docs: => DataFrame, idCol: String, textCol: String): Index =
    resident.getOrBuild(key)(owned(pinnedIndex(docs, idCol, textCol)))

  /** The resident index under `key` over a parquet table's data files,
    * brought up to date with `files` (the table's sorted (path, size,
    * mtime) listing, taken under the key's monitor). The entry is stamped
    * with the files it covers, and exactly one of these happens:
    *
    *   - same files: the entry as it is;
    *   - the files only grew, and the entry has fewer than
    *     [[MaxFragments]] fragments: the added files' postings are pinned
    *     as one more fragment, O(batch);
    *   - anything else (a file removed or rewritten, no entry, or the
    *     entry at its bound): one pinned build over all the files.
    *
    * Both builds read exactly the stamped files, with an explicit schema
    * of the two string columns (no schema inference), so the entry covers
    * its stamp exactly, whoever wrote the files. A search holding the
    * replaced entry of a rebuild loses its pins; a grown entry carries
    * the old fragments over.
    */
  def following(
      spark: SparkSession,
      key: String,
      files: => Seq[(String, Long, Long)],
      idCol: String,
      textCol: String
  ): Index = {
    def read(fs: Seq[(String, Long, Long)]): DataFrame =
      spark.read.schema(s"`$idCol` STRING, `$textCol` STRING").parquet(fs.map(_._1): _*)
    overFiles.update(key) { current =>
      val now = files
      def stamped(idx: Index) = Resident.pinning(Stamped(now, idx), idx.postings)
      current match {
        case Some(r) if r.value.files == now => r
        case Some(Resident(Stamped(old, idx), _, _, _))
            if idx.retained.length < MaxFragments && old.forall(now.toSet) =>
          stamped(append(idx, read(now.filterNot(old.toSet)), idCol, textCol))
        case _ => stamped(pinnedIndex(read(now), idCol, textCol))
      }
    }.index
  }

  /** BM25 score expression for one (tf, df, docLen) posting.
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the Robertson-Sparck Jones
    * form used by Lucene/Tantivy (the engine behind the reference's FTS).
    */
  def bm25TermScore(
      tf: Column,
      df: Column,
      docLen: Column,
      numDocs: Long,
      avgDocLen: Double,
      k1: Double = 1.2,
      b: Double = 0.75
  ): Column = {
    val idf = log(lit(1.0) + (lit(numDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)))
    val tfSat = (tf * (lit(k1) + 1.0)) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * docLen / lit(avgDocLen)))
    idf * tfSat
  }

  /** BM25 scores for EVERY candidate document (one row per doc matching
    * at least one query term) — [[search]] without the top-k truncation.
    * Use when the ranking will be re-ordered downstream (prefilter +
    * re-rank, cross-engine comparison on rounded scores): truncating
    * before a downstream filter/re-sort silently loses rows.
    */
  def scoreAll(
      spark: SparkSession,
      index: Index,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    val terms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
    if (terms.isEmpty)
      // empty result with the SAME schema as the scored path (doc_id keeps
      // the postings' type, score is double) so callers can union/join
      // uniformly across queries
      return index.postings
        .select(col("doc_id"))
        .withColumn("score", lit(0.0))
        .limit(0)

    // df derived over the FILTERED postings: the filter keeps every row of
    // the query's terms, so a per-term window count IS the corpus-wide
    // document frequency — tiny (query-term rows only), and it is what
    // lets the index itself stay df-free (append-only maintenance)
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    index.postings
      .where(col("term").isin(terms.toSeq: _*))
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn(
        "term_score",
        bm25TermScore(col("tf"), col("df"), col("doc_len"), index.numDocs, index.avgDocLen, k1, b)
      )
      // a document's term scores add up in TERM order, so its score does
      // not depend on how the postings are partitioned (a plain `sum`
      // adds partial sums in partition order)
      .groupBy("doc_id")
      .agg(aggregate(array_sort(collect_list(struct(col("term"), col("term_score")))), lit(0.0),
        (acc, t) => acc + t.getField("term_score")).as("score"))
  }

  /** Top-k BM25 search. The query is tokenized driver-side (it is one short
    * string); candidate postings are filtered with an `isin` predicate that
    * Catalyst pushes into the postings scan.
    */
  def search(
      spark: SparkSession,
      index: Index,
      query: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame =
    scoreAll(spark, index, query, k1, b)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)

  /** Batch BM25: ranked top-k per query for a whole query TABLE against
    * the same postings index in ONE job — the shape for scoring millions
    * of eval/mining queries at cluster scale, where looping [[search]]
    * per query would plan a job per query.
    *
    * Scale shape: queries tokenize distributed (the shared
    * [[graft.functions.TextFunctions.ftsTokens]]); the postings scan is
    * semi-join-filtered to the batch's term VOCABULARY first (so the
    * per-term window count over the survivors is still the exact
    * corpus-wide document frequency, and only matching terms' postings
    * flow), then joined to the per-query terms — both query-side tables
    * broadcast while the batch is small (the default); pass
    * `broadcastQueries = false` for batches beyond the broadcast limit
    * (millions of queries) and both become term-keyed shuffle joins
    * with identical results. `maxDfFraction` < 1.0 drops query terms
    * whose document frequency exceeds that fraction of the corpus from
    * SCORING (classic common-term pruning): a term matching most of the
    * corpus contributes near-zero BM25 idf but costs |batch| x df join
    * rows — the worst case of bag-of-words batch scoring. Off by
    * default because it changes scores (slightly — only near-zero-idf
    * terms drop). Per-(query, doc) scores aggregate
    * term scores cast to decimal(18,9) — exact and summation-order-free,
    * unlike a raw double sum whose low bits would depend on partition
    * order across a large batch — and ranking uses the 6-decimal-rounded
    * score with doc-id tiebreak through a bounded [[graft.plans.TopKBy]]
    * heap (no global sort of the scored candidates).
    *
    * Returns (query_id, rank, doc_id, score) with 1-based ranks — feed
    * directly to [[RetrievalEval.summary]].
    */
  def searchMany(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      index: Index,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      broadcastQueries: Boolean = true,
      maxDfFraction: Double = 1.0
  ): DataFrame = {
    require(maxDfFraction > 0.0 && maxDfFraction <= 1.0,
      s"searchMany: maxDfFraction must be in (0, 1], got $maxDfFraction")
    val qTerms = queries
      .select(
        col(queryIdCol).as("query_id"),
        explode(array_distinct(TextFunctions.ftsTokens(col(queryTextCol)))).as("term"))
    def side(df: DataFrame): DataFrame = if (broadcastQueries) broadcast(df) else df
    val vocab = qTerms.select("term").distinct()
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val scored = index.postings
      .join(side(vocab), Seq("term"), "left_semi")
      .withColumn("df", count(lit(1)).over(wTerm))
    // common-term pruning runs AFTER the df window (df stays the true
    // corpus-wide frequency) and BEFORE the per-query fan-out join —
    // the |batch| x df blow-up is exactly what it exists to cut
    val cand = (if (maxDfFraction < 1.0)
      scored.where(col("df") <= lit(maxDfFraction * index.numDocs))
    else scored)
      .withColumn(
        "term_score",
        bm25TermScore(col("tf"), col("df"), col("doc_len"), index.numDocs, index.avgDocLen, k1, b))
    // Skew guard for the broadcast fan-out: the df window above leaves
    // cand hash-partitioned BY TERM, so a head term's whole df sits in
    // one partition and the broadcast join below would emit its
    // |queries-with-term| x df rows — and run their partial aggregation
    // — in ONE task (the round-10 audit measured the 12k-query unpruned
    // leg at ~1 core from exactly this; AQE cannot help because the
    // skew is in join OUTPUT fan-out, not input partition sizes).
    // Spreading by (term, doc) first costs one batch-footprint shuffle
    // and distributes the fan-out. Broadcast mode only: a shuffle join
    // re-exchanges by term anyway, undoing the spread.
    val fanoutReady =
      if (broadcastQueries) cand.repartition(col("term"), col("doc_id")) else cand
    fanoutReady
      .join(side(qTerms), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_score").cast("decimal(18,9)")).cast("double").as("score"))
      .withColumn("score", round(col("score"), 6))
      .groupBy("query_id")
      .agg(graft.plans.TopKBy.topKBy(col("score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"),
        col("col.score").as("score"))
  }

  /** Exact PHRASE search: documents where the query tokens occur as a
    * consecutive run (the FTS feature BM25's bag-of-words scoring cannot
    * express — "hash join" must not match "join ... hash"). Returns
    * (id, n_hits) with n_hits = number of occurrence start positions.
    *
    * Positional-postings shape: tokenize with positions (posexplode of
    * the shared [[graft.functions.TextFunctions.ftsTokens]]), then —
    * crucially for scale — FILTER to the phrase's own vocabulary BEFORE
    * any join, so the adjacency self-joins shuffle only (id, pos) pairs
    * of the few matching terms, never the corpus token stream. Each
    * phrase word joins on (id, pos - offset): k-1 equi-joins for a
    * k-word phrase, all hash-partitioned on the same (id, pos) key.
    * Occurrences may share a word with an adjacent occurrence; counting
    * start positions matches the oracle's token-array adjacency count.
    */
  def phraseOccurrences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]
  ): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val toks = docs
      .select(
        col(idCol).as("id"),
        posexplode(graft.functions.TextFunctions.ftsTokens(col(textCol))).as(Seq("pos", "tok"))
      )
      .where(col("tok").isin(phrase.distinct: _*))
    val first = toks.where(col("tok") === phrase.head).select(col("id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) { case (acc, (w, i)) =>
      val ti = toks
        .where(col("tok") === w)
        .select(col("id").as("_id_i"), (col("pos") - i).as("_pos_i"))
      acc
        .join(ti, col("id") === col("_id_i") && col("pos") === col("_pos_i"))
        .select(col("id"), col("pos"))
    }
    matched.groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** Ordered PROXIMITY search: count of token-position pairs where
    * `termA` occurs and `termB` follows within `slop` positions ("filter
    * NEAR/5 scan") — the relevance signal between exact phrase (slop=1)
    * and BM25's bag-of-words (slop=∞).
    *
    * Same positional-postings scale shape as [[phraseOccurrences]]: the
    * corpus token stream is filtered to the TWO query terms before the
    * join, so only their (id, pos) postings shuffle. The join itself is
    * an equi-join on id; the `(0, slop]` gap predicate is evaluated as a
    * post-join filter within each id's co-partitioned postings, bounded
    * by tfA(id) * tfB(id) per document — never a corpus-sized cross
    * product. Returns (id, n_pairs) for documents with at least one
    * qualifying pair.
    */
  def proximityOccurrences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      termA: String,
      termB: String,
      slop: Int
  ): DataFrame = {
    require(slop >= 1, s"need slop >= 1, got $slop")
    val toks = docs
      .select(
        col(idCol).as("id"),
        posexplode(graft.functions.TextFunctions.ftsTokens(col(textCol))).as(Seq("pos", "tok"))
      )
      .where(col("tok").isin(Seq(termA, termB).distinct: _*))
    val a = toks.where(col("tok") === termA).select(col("id"), col("pos").as("_pos_a"))
    val b = toks.where(col("tok") === termB).select(col("id").as("_id_b"), col("pos").as("_pos_b"))
    a.join(
      b,
      col("id") === col("_id_b") &&
        col("_pos_b") > col("_pos_a") &&
        col("_pos_b") - col("_pos_a") <= slop
    ).groupBy("id")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Keyword-in-context snippets: for every document containing `term`,
    * the ±`width`-token window around the FIRST occurrence, joined with
    * single spaces — the search-result display string. Returns
    * (id, pos, snippet) with pos = 1-based token position of the hit.
    *
    * Pure narrow pass (tokenize, position, slice at the scan — no
    * explode, no shuffle); the caller typically semi-joins it to a top-k
    * result, so only k documents ever materialize snippets.
    */
  def snippets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      term: String,
      width: Int
  ): DataFrame = {
    require(width >= 0, s"need width >= 0, got $width")
    val toks = graft.functions.TextFunctions.ftsTokens(col(textCol))
    docs
      .select(col(idCol).as("id"), toks.as("_toks"))
      .withColumn("pos", array_position(col("_toks"), term))
      .where(col("pos") > 0)
      .withColumn("_start", greatest(col("pos") - width, lit(1L)))
      .select(
        col("id"),
        col("pos"),
        array_join(
          slice(col("_toks"), col("_start").cast("int"), (col("pos") + width - col("_start") + 1).cast("int")),
          " "
        ).as("snippet")
      )
  }
}
