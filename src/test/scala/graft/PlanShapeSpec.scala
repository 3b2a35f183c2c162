package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Plan-shape regression guards: the SCALE.md/explain-audit properties as
  * assertions, so a refactor that silently degrades a plan (lost pushdown,
  * broadcast -> shuffle join, top-k -> global sort) fails the suite.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val qe = SparkEntry.queries(q)(spark, dir).queryExecution
    qe.explainString(ExplainMode.fromString("formatted"))
  }

  test("filters and projection reach the parquet scan") {
    val p = plan("q_filter_range")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity,30.0)"),
      p.take(1200))
    assert(p.contains("ReadSchema:") && !p.contains("l_tax"), "unused columns must prune")
  }

  test("star join broadcasts dimensions, never sort-merge-joins them") {
    val p = plan("q_join_revenue_by_region")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), "dimension joins must broadcast")
  }

  test("anti-join ledger pattern broadcasts the ledger side") {
    val p = plan("q_anti_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(1200))
  }

  test("vector top-k plans as TakeOrderedAndProject with no shuffle") {
    val p = plan("q_ann_cosine")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("Exchange"), "brute-force top-k must not shuffle")
  }

  test("aggregations are partial+final hash aggregates (map-side combine)") {
    val p = plan("q_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(1200))
    assert(!p.contains("SortAggregate"), "pricing summary must hash-aggregate")
  }

  test("exact dedup shuffles only (id, digest) — never the text payload") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE off so the static executedPlan exposes the exchanges directly
    // (under AQE they hide inside AdaptiveSparkPlanExec query stages)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (deduped, exchanges) = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = graft.operators.Dedup.exactDedup(docs, "doc_id", "text")
        // force physical planning while AQE is off
        (df, df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e })
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    assert(exchanges.nonEmpty, "expected the (id, digest) ranking shuffle")
    exchanges.foreach { e =>
      val cols = e.output.map(_.name)
      assert(!cols.contains("text"),
        s"dedup exchange must not carry the text payload, got: $cols")
    }
    // and the thinning join is a broadcast anti-join (loser ids only)
    val p = deduped.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(1200))
  }

  test("decontamination broadcasts the eval grams; corpus text never crosses an exchange") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // every Exchange in the plan carries grams/ids only — the corpus text
    // column must stay on the scan side of the broadcast join
    val exchangeOutputs = "(?s)\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeOutputs.nonEmpty)
    exchangeOutputs.foreach(cols =>
      assert(!cols.contains("text"), s"exchange must not carry text: $cols"))
  }

  test("grouped top-k aggregate itself never sorts") {
    import spark.implicits._
    // no presentation orderBy here: the guard is about the AGGREGATE
    val df = (1 to 100).map(i => (i % 5L, i.toDouble, i.toLong)).toDF("g", "s", "i")
      .groupBy("g").agg(graft.plans.TopKBy.topKBy(col("s"), col("i"), 2))
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(!p.contains("Sort "), "bounded-heap aggregate must not sort")
  }

  test("KMV sketch truncates per partition: TakeOrderedAndProject, no global sort") {
    val p = plan("q_kmv_distinct")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    // formatted mode renders sort nodes as "(8) Sort" — match the node id
    assert("\\(\\d+\\) Sort\\b".r.findFirstIn(p).isEmpty,
      "k smallest hashes must come from per-partition heaps:\n" + p.take(1500))
  }

  test("salted aggregation is two-phase: first shuffle keyed on (key, salt)") {
    val p = plan("q_skew_agg")
    assert(p.contains("_salt"), "salt column must reach the partitioning")
    assert("hashpartitioning\\([^)]*_salt".r.findFirstIn(p).isDefined,
      "phase-1 exchange must include the salt key:\n" + p.take(1500))
  }

  test("weighted sampling is a pure scan-side filter: no hash exchange at all") {
    val p = plan("q_weighted_sample")
    // the presentation orderBy exchanges with RANGEpartitioning; membership
    // itself must never hash-shuffle, so any hashpartitioning exchange
    // argument in the plan is a regression
    assert(!p.contains("hashpartitioning"),
      "membership must be decided at the scan, not after a hash shuffle:\n" + p.take(1500))
  }

  test("blocklist gate is scan-fused: no hash exchange anywhere in the plan") {
    val p = plan("q_blocklist")
    // the presentation orderBy range-partitions; the matching itself is
    // literal-array column algebra and must never hash-shuffle
    assert(!p.contains("hashpartitioning"),
      "blocklist matching must fuse into the scan:\n" + p.take(1500))
  }

  test("bigram-LM scoring never shuffles corpus text: exchanges carry ids, digests and counts only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val scored = graft.operators.TextAnalysis.bigramLmScore(
      docs, "doc_id", "text", docs.where(col("doc_id") % 2 === 0))
    val p = scored.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val exchangeOutputs = "(?s)\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
    val carried = exchangeOutputs.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(carried.nonEmpty, "expected at least the count shuffles:\n" + p.take(1200))
    carried.foreach(cols =>
      assert(!cols.contains("text"),
        s"an exchange carries raw text [$cols] — grams must be digested at the scan"))
  }

  test("range join never degrades to a nested-loop or cartesian join") {
    for (q <- Seq("q_range_join", "q_overlap_join")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q:\n" + p.take(1200))
    }
  }

  test("mixture balance costs exactly one exchange (the stratum window)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.Sampling.balanceStrata(docs, "source", "doc_id", 5)
      val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 1, df.queryExecution.executedPlan.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("tf-idf aggregates partially before its shuffles; the doc total broadcasts") {
    val p = plan("q_tfidf")
    assert("HashAggregate".r.findAllIn(p).length >= 4, p.take(1500))
    assert(p.contains("BroadcastExchange"), "the 1-row corpus total must broadcast")
  }

  test("boilerplate coverage shuffles digested longs, not gram strings") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.operators.TextAnalysis
        .boilerplateCoverage(docs, "doc_id", "text", n = 3, minDocs = 5)
      df.queryExecution.executedPlan // force planning
      val exchanges = df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty)
      // every shuffled attribute is an id or a LongType digest — the gram
      // text (StringType g) must have been digested before any exchange
      exchanges.foreach { e =>
        val stringCols = e.child.output.filter(_.dataType ==
          org.apache.spark.sql.types.StringType)
        assert(stringCols.isEmpty,
          s"gram strings crossed a shuffle: ${e.child.output.mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("phrase/proximity postings joins: text never shuffles, no nested-loop joins") {
    for (q <- Seq("q_phrase", "q_proximity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay an equi-join: ${p.take(800)}")
      // the corpus text column is consumed by the posexplode at the scan
      // side; only (id, pos) postings may cross an exchange
      val exchangeOutputs = "(?s)\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      exchangeOutputs.foreach(cols =>
        assert(!cols.contains("text"), s"$q exchange must not carry text: $cols"))
    }
  }

  test("DSIR scoring broadcasts the weight table; gram strings never shuffle") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    val exchangeOutputs = "(?s)\\(\\d+\\) Exchange\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchangeOutputs.nonEmpty)
    exchangeOutputs.foreach(cols =>
      assert(!cols.contains("text"), s"exchange must not carry text: $cols"))
  }

  test("semdedup pair stage is an equi-join on the cluster key, never a cartesian") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join must be cluster-keyed: ${p.take(800)}")
  }

  test("training-order rank never collapses to a single-partition window") {
    // the rank's own range shuffle happens inside the pinned checkpoint
    // (lineage truncated), so the visible guard is: the window runs
    // partitioned by _pid and nothing in the plan is single-partition
    val p = plan("q_train_order")
    assert(p.contains("Window") && p.contains("_pid"),
      s"rank window must be per-range-partition: ${p.take(800)}")
    assert(!p.contains("SinglePartition"),
      "the global rank must stay distributed (no unpartitioned window)")
  }

  test("z-order key computation is pure column algebra over a pruned scan") {
    val p = plan("q_zorder")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("ReadSchema:") && !p.contains("o_orderdate") && !p.contains("o_totalprice"),
      "only the two key columns may be read")
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"),
      "the Morton ladder must stay in codegen'd column algebra")
  }

  test("SQ8 search scans only (vec_id, embedding) and plans as top-k, not global sort") {
    val p = plan("q_sq8_ann")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("doc_id"), "only the embeddings table's columns may appear")
  }

  test("PQ ADC search is scan-side lookup algebra + top-k — no join, no global sort") {
    val p = plan("q_pq_fixed")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Join"),
      "ADC scores come from the broadcast literal lookup table, never a join")
    assert(!p.contains("BatchEvalPython") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("grouped HLL combines registers map-side and prunes to the two used columns") {
    val p = plan("q_hll_by")
    assert(p.contains("partial_max"),
      s"register max must map-side combine — the whole point over KMV's distinct: ${p.take(800)}")
    assert(p.contains("ReadSchema:") && !p.contains("l_extendedprice") && !p.contains("l_comment"),
      "only (l_returnflag, l_partkey) may be read")
  }

  test("streaming HLL batch form: register max combines map-side; no join, scan pruned to (ts, user_id)") {
    val p = plan("q_event_hll")
    assert(p.contains("partial_max"),
      s"the register MAX must partially aggregate before its exchange: ${p.take(800)}")
    assert(!p.contains("Join"), "per-window registers are one aggregation chain, never a join")
    assert(p.contains("ReadSchema:") && !p.contains("props") && !p.contains("event_type"),
      "only the timestamp and user_id may be read")
  }

  test("WordPiece inference: vocabulary match runs per DISTINCT word; per-doc join broadcasts") {
    val p = plan("q_wordpiece_infer")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the vocabulary-bounded match table must broadcast against the corpus: ${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the per-doc re-join must never shuffle the corpus to a merge join")
  }

  test("incremental LSH candidates join on band keys — no cartesian, no nested loop") {
    val p = plan("q_incremental_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join must be an equi-join: ${p.take(800)}")
  }

  test("unigram surprisal aggregates partially before its shuffles") {
    val p = plan("q_unigram_surprisal")
    assert("partial".r.findAllIn(p.toLowerCase).nonEmpty &&
      "HashAggregate".r.findAllIn(p).length >= 2,
      s"token counts must map-side combine: ${p.take(800)}")
  }

  test("fixed-plane LSH search is one scan + top-k — no join, no pre-limit shuffle") {
    val p = plan("q_lsh_fixed")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Join"), "signature + Hamming filter must stay per-row column algebra")
    assert(!p.contains("BatchEvalPython"), "no out-of-codegen eval")
  }

  test("drift monitor is ONE scan: totals come from the bounded window, not a re-aggregation") {
    val p = plan("q_drift")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      s"a second scan means the totals side recomputed the aggregate subtree: ${p.take(800)}")
    assert(p.contains("partial_sum"), "slice-tag counts must map-side combine")
    assert(!p.contains("Join"), "no join — totals are a window over the bounded per-category table")
    assert(p.contains("ReadSchema:") && !p.contains("props") && !p.contains("user_id"),
      "only ts/event_type may be read")
  }

  test("retrieval eval ranks via heap aggregates and broadcasts the query batch — no corpus sort") {
    val p = plan("q_retrieval_eval")
    assert(p.contains("ObjectHashAggregate"), s"top-k must be the TopKBy heap: ${p.take(800)}")
    assert(p.contains("BroadcastExchange"), "the 20-row query batch must broadcast against the corpus")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("TakeOrderedAndProject"),
      "per-query ranking must not globally sort the scored corpus")
    assert(p.contains("partial_topkby"),
      "the heap aggregate must combine map-side before its exchange")
    assert(p.contains("ReadSchema:") && !p.contains("label"), "embeddings scans must prune label")
  }

  test("embedding drift is one scan + one dim-keyed aggregation, null filter pushed down") {
    val p = plan("q_embed_drift")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p.take(800))
    assert(p.contains("partial_sum"), "component sums must map-side combine")
    assert(!p.contains("Join"), "no join anywhere in the drift plan")
    assert(p.contains("PushedFilters: [IsNotNull(embedding)]"),
      "the null-vector filter must reach the parquet scan")
  }

  test("batch BM25 eval filters postings by vocabulary semi-join and ranks via heaps") {
    val p = plan("q_bm25_eval")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"the postings scan must be vocabulary-filtered before any fan-out: ${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"), "per-query ranking must be the TopKBy heap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "all joins must be equi-joins")
  }

  test("batch BM25 keeps the fan-out skew guard: a (term, doc) spread before the query join") {
    // the round-10 audit finding: without the spread, the df window
    // leaves candidates term-partitioned and a head term's whole
    // (queries-with-term x df) fan-out runs in ONE task (measured ~1
    // core for 10 minutes at a 12k batch; AQE can't split output
    // fan-out). The guard is a hashpartitioning exchange on
    // (term, doc_id) between the df window and the broadcast join —
    // this pin fails if a refactor drops it.
    val p = plan("q_bm25_eval")
    assert("hashpartitioning\\(term[#0-9]*, doc_id".r.findAllIn(p).nonEmpty,
      s"the (term, doc) spread exchange is gone — head-term fan-out will single-task: ${p.take(1200)}")
  }

  test("BPE pair stage: partial aggregation + top-k argmax, never a global sort") {
    // q_bpe_pairs is the exact per-round plan shape bpeMerges re-runs N
    // times (pair explode over the vocabulary, weighted aggregate,
    // ranked take): the histogram and pair counts must map-side
    // combine, and the ranking must be TakeOrderedAndProject — a global
    // Sort here would sort the pair alphabet every merge round
    val p = plan("q_bpe_pairs")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"word/pair counts must map-side combine: ${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the pair argmax must be a top-k, not a global sort: ${p.take(800)}")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1,
      "the corpus is touched exactly once — pair work is vocabulary-sized")
  }

  test("BPE OOV encode: segmented vocabulary broadcasts; apply corpus never re-folds per occurrence") {
    // bpeEncode's apply is a JOIN, never a per-occurrence re-fold: the
    // vocabulary-bounded segmentation (STATELESS since r13 — no
    // checkpoint, no SQL cache; persistence here leaked driver-held
    // entries per call in per-batch pipelines) must broadcast against
    // the one exploded corpus pass, per-doc sums must map-side combine,
    // and the top-20 must be a top-k, not a global sort. (Training ran
    // in its own jobs; THIS plan is the apply.)
    val p = plan("q_bpe_encode_oov")
    assert(p.contains("BroadcastHashJoin"),
      s"the segmented vocabulary must broadcast: ${p.take(800)}")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc sums must map-side combine: ${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must not be a global sort: ${p.take(800)}")
    // two textual scans: the join's corpus pass + the distinct-word
    // subtree's own source read — the UDF still runs once per DISTINCT
    // word within the action (the distinct sits below it)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length <= 2,
      "the apply corpus appears once per consumer, never per word occurrence")
  }

  test("datasheet: exactly two exchanges (digest window + bounded roll-up), text never crosses") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val exchanges = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try graft.operators.Curation.datasheet(docs, "doc_id", "text", "source")
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    assert(exchanges.length == 2,
      s"expected the digest window + the per-(group, lang) roll-up, got ${exchanges.length}")
    exchanges.foreach { e =>
      val cols = e.output.map(_.name)
      assert(!cols.contains("text"),
        s"the data card must shuffle fixed-width enrichment rows, never text: $cols")
    }
  }

  test("incremental Hamming probe: band equi-join, never a cartesian or nested loop") {
    import spark.implicits._
    val idx = Seq((1L, 0x0fL), (2L, 0xf0L)).toDF("id", "sig")
    val batch = Seq((10L, 0x0eL)).toDF("id", "sig")
    val qe = graft.operators.Dedup
      .incrementalHammingPairs(idx, batch, "id", "sig", maxHamming = 3)
      .queryExecution
    val p = qe.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the batch-vs-index probe must stay a band equi-join: ${p.take(800)}")
  }

  test("vector window drift: reference broadcasts; per-dim sums map-side combine") {
    val p = plan("q_vector_window_drift")
    assert(p.contains("BroadcastExchange"),
      s"the dims-sized reference must broadcast: ${p.take(800)}")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-(window, dim) sums must map-side combine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the reference join must stay an equi-join")
  }

  test("BPE encode: the segmented vocabulary broadcasts; ranking is top-k") {
    val p = plan("q_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"apply must be a broadcast join of the bounded vocabulary, never a shuffle join: ${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), "the top-20 must not globally sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("centroid classifier: the bounded model broadcasts; no cartesian") {
    val p = plan("q_classifier_centroid")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=nFeatures-row model must broadcast-join the feature rows: ${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("cluster-balance: per-cluster cap is a window, never a global sort or cartesian") {
    val p = plan("q_cluster_balance")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "balanceStrata's row_number must stay a partitioned window")
  }

  test("domain classifier: dense k-class model broadcasts; argmin is an agg, not a cartesian") {
    val p = plan("q_domain_classify")
    assert(p.contains("BroadcastHashJoin"),
      s"the k*nFeatures model table must broadcast-join the feature rows: ${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("token accounting is a single scan with no shuffle before the output sort") {
    val p = plan("q_token_bpe")
    // exactly the final orderBy's range exchange — the three token
    // signals must come from one pass over the text column (formatted
    // mode prints each node in the tree AND a details section, so count
    // the numbered details headers)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length == 1, p.take(800))
    assert(p.contains("ReadSchema:") && !p.contains("lang"), "only doc_id/text may be read")
  }

  test("epoch schedule reads bin METADATA only: input_ids never enters the scan, windows stay partitioned") {
    // build a store once, then audit the schedule plan itself (not via
    // SparkEntry, whose query includes the store build)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_plan_sched").toString
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, (i * 37 % 17) + 3))
      .map { case (i, tok) => (i, tok, (1L to tok).map(j => i * 100 + j)) }
      .toDF("id", "tok", "ids")
    val packed = graft.operators.SequencePacking
      .packSequences(docs, "id", "tok", "ids", budget = 40, partitions = 1)
    graft.operators.SequencePacking.exportShards(packed, dir2, nShards = 4)
    // the scale claim, part 1: the bin scan the schedule materializes is
    // column-pruned to the three metadata columns — the packed id bytes
    // never reach the read (audited on the scan plan; the schedule's own
    // explain starts at the pinned RDD, downstream of this scan)
    val ps = spark.read.parquet(s"$dir2/data")
      .select(col("shard").cast("long").as("shard"), col("bin_id"),
        col("bin_tokens").as("n_tokens"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(ps.contains("ReadSchema:") && !ps.contains("input_ids") && !ps.contains("doc_lens"),
      s"the schedule's bin scan must prune the packed ids: ${ps.take(1000)}")
    // part 2: the rank/prefix pass is per-partition — the window keys on
    // the pinned range partition's _pid, and no packed-id attribute rides
    // through the schedule plan
    val p = graft.operators.LoaderSchedule.epochSchedule(spark, dir2, "audit")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // every windowspecdefinition in the plan must name _pid as its
    // partition key — a degraded single-task window (empty PARTITION BY)
    // prints windowspecdefinition(<sort>..., specifiedwindowframe...)
    // with no _pid and fails this exact-prefix match
    val specs = """windowspecdefinition\(([^,)]*)""".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.startsWith("_pid")),
      s"the rank/prefix windows must partition on _pid, got $specs: ${p.take(1000)}")
    assert(!p.contains("input_ids"), "packed ids must never enter the schedule plan")

    // the multi-epoch mixture composition inherits the same shape: every
    // window (per-domain rank AND the final interleave rank/prefix) stays
    // partitioned on the range shuffle's _pid, and the packed ids never
    // enter the plan — the 100 TB claim is that a K-domain, multi-epoch
    // plan is still pure bin-metadata work
    val dir3 = java.nio.file.Files.createTempDirectory("graft_plan_mixp").toString
    graft.operators.SequencePacking.exportShards(packed, dir3, nShards = 4)
    val mp = graft.operators.LoaderSchedule.mixturePlan(
        spark, Seq(("a", dir2, 3L, 1), ("b", dir3, 1L, 2)), "audit")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val mpSpecs = """windowspecdefinition\(([^,)]*)""".r.findAllMatchIn(mp).map(_.group(1)).toSeq
    assert(mpSpecs.nonEmpty && mpSpecs.forall(_.startsWith("_pid")),
      s"mixturePlan windows must partition on _pid, got $mpSpecs: ${mp.take(1000)}")
    assert(!mp.contains("input_ids"), "packed ids must never enter the mixture plan")

    // the BUDGET-driven composition (r17) adds only a metadata filter on
    // top: same _pid-partitioned windows, still no packed-id attribute —
    // deriving repeat factors from token shares must not change the shape
    val totalTokens = spark.read.parquet(s"$dir2/manifest")
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    val bm = graft.operators.LoaderSchedule.planForTokensMixture(
        spark, Seq(("a", dir2, 3L), ("b", dir3, 1L)), "audit", totalTokens * 3L)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val bmSpecs = """windowspecdefinition\(([^,)]*)""".r.findAllMatchIn(bm).map(_.group(1)).toSeq
    assert(bmSpecs.nonEmpty && bmSpecs.forall(_.startsWith("_pid")),
      s"planForTokensMixture windows must partition on _pid, got $bmSpecs: ${bm.take(1000)}")
    assert(!bm.contains("input_ids"), "packed ids must never enter the budget mixture plan")
  }

  // A warehouse of one cold ingest plus one incremental batch: its
  // resident FTS index is a cold build plus one batch fragment.
  private lazy val served = {
    val base = java.nio.file.Files.createTempDirectory("graft-serving-plan").toString
    def pdf(dir: String, name: String, body: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), s"%PDF-1.4\n$body".getBytes("UTF-8"))
    }
    pdf(s"$base/cold", "a.pdf", "# Alpha\n\nkeyword search reads the resident postings of the cold build.")
    pdf(s"$base/cold", "b.pdf", "# Bravo\n\nhybrid search fuses the vector and keyword rankings.")
    pdf(s"$base/batch", "c.pdf", "# Charlie\n\na batch fragment extends the keyword index by one search.")
    val cfg = GraftConfig(warehouseDir = s"$base/wh")
    val pipe = new graft.pipeline.Pipeline(spark, cfg)
    pipe.processDirectory(s"$base/cold")
    pipe.processDirectory(s"$base/batch")
    assert(pipe.ftsIndex.retained.length == 2, "precondition: a cold build plus one batch fragment")
    new graft.pipeline.Retriever(spark, pipe, cfg)
  }

  /** Every node of `df`'s final plan once it has run, inside AQE's query
    * stages and subqueries too.
    */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan)
  }

  private def exchanges(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }

  test("resident keyword search reads pinned, term-partitioned postings: no cache relation, no term exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = served.keywordSearch("keyword search", 5)
    val nodes = executedNodes(df)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(nodes.nonEmpty && !p.contains("InMemoryRelation") && !p.contains("TableCacheQueryStage"),
      "resident postings must be pinned, not cached plans:\n" + p)
    assert(!nodes.exists(_.nodeName.startsWith("InMemoryTableScan")), p)
    val termExchanges = exchanges(nodes).filter(_.outputPartitioning match {
      case h: HashPartitioning => h.references.exists(_.name == "term")
      case _ => false
    })
    assert(termExchanges.isEmpty, "the df window must read each term's postings in place:\n" + p)
    assert(df.count() > 0)
  }

  test("hybrid and context plans end in bounded top-k: no range-partitioning exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    for ((name, df) <- Seq(
        "hybrid" -> served.hybridSearch("keyword search", 5),
        "context" -> served.contextHits("keyword search", 600, graft.pipeline.SearchMode.Hybrid))) {
      val nodes = executedNodes(df)
      val ranged = exchanges(nodes).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
      assert(ranged.isEmpty,
        s"$name must not range-partition a sort:\n" + df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      assert(nodes.exists(_.nodeName == "TakeOrderedAndProject"), s"$name keeps its top-k")
    }
  }

  test("global rank adds partition offsets without a join: no broadcast exchange") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val df = spark.range(0, 500).select((col("id") * 7 % 500).as("k"))
    val (ranked, n) = graft.operators.Ranks.withGlobalRank(df, Seq(col("k")), partitions = 4)
    val nodes = executedNodes(ranked)
    assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeLike]),
      "the offsets must not broadcast-join the ranked rows:\n" +
        ranked.queryExecution.explainString(ExplainMode.fromString("formatted")))
    val rows = ranked.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(n == 500L && rows.forall { case (k, rk) => rk == k + 1 }, rows.take(10).mkString(","))
  }
}
