package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for large-scale training-data pipelines.
  * All variants are expressed as DataFrame algebra so Catalyst handles
  * pushdown/pruning, and every pairwise method is blocked (LSH-banded)
  * so nothing ever materializes an O(n^2) cross product.
  *
  * Inventory:
  *   - exact:      md5 of normalized text, keep-one per digest (the
  *                 ranking shuffles only a short hash key — the cheapest
  *                 possible full-corpus dedup)
  *   - minhash:    shingle -> minhash signature -> band -> bucket join
  *   - hamming:    banded Hamming blocking over a 64-bit signature
  *   - ngramJaccard: word n-gram Jaccard via explode + semi-blocked join
  */
object Dedup {

  /** Normalize text for dedup purposes: lowercase, collapse whitespace. */
  def normalized(text: Column): Column =
    // explicit ws class (TextFunctions.Ws): Java \s includes \x0B, RE2
    // (the DuckDB oracle) does not — pin both engines to the same class
    trim(regexp_replace(lower(text), graft.functions.TextFunctions.Ws + "+", " "))

  /** Keep one representative per exact-duplicate group (min id wins).
    *
    * Scale shape: the ranking runs on an (id, digest)-only projection, so
    * the window's hash-partition shuffles 40 bytes/row no matter how wide
    * the text is. The full rows are then thinned with an anti-join against
    * the LOSER ids (duplicate non-winners) — typically a small minority of
    * the corpus, so it broadcasts and the payload never crosses the wire.
    * For pathologically duplicate-heavy corpora pass
    * `broadcastLosers = false`: the anti-join degrades to a shuffle on the
    * uniform id key (still no text in any exchange *key*, one payload
    * shuffle — strictly cheaper than the old full-row window, which
    * shuffled AND sorted the payload unconditionally).
    */
  def exactDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      broadcastLosers: Boolean = true
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_dd_h")
      .orderBy("_dd_id")
    val losers = docs
      .select(col(idCol).as("_dd_id"), md5(normalized(col(textCol))).as("_dd_h"))
      .withColumn("_dd_rn", row_number().over(w))
      .where(col("_dd_rn") > 1)
      .select("_dd_id")
    val rhs = if (broadcastLosers) broadcast(losers) else losers
    docs.join(rhs, col(idCol) === col("_dd_id"), "left_anti")
  }

  /** Word k-shingles of normalized text as an array column.
    *
    * The sliding window runs in [[graft.plans.TextKernels.shingles]], a
    * codegen-friendly Catalyst expression: the previous higher-order-
    * function tree (transform + slice + concat_ws per position) was
    * interpreted — no whole-stage codegen, per-position boxing — and was
    * the largest per-row cost in the text family. Output is bit-identical
    * (distinct k-grams in first-occurrence order; < k words → empty).
    */
  def shingles(text: Column, k: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(
      graft.plans.WordShingles(
        graftbridge.expression(split(normalized(text), " ")), k))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum hash over the shingle set. Uses Spark's 64-bit xxhash64 with
    * the seed mixed into the input — codegen'd, no UDF.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int = 16): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shingleArr, s => xxhash64(lit(seed), s)))
    }: _*)

  /** MinHash+LSH candidate pairs: signatures banded `bandSize` hashes per
    * band; docs sharing any band bucket are candidates; candidates are
    * verified with exact Jaccard over shingle sets. Returns
    * (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    *
    * The join key is (band_index, band_hash) — the classic LSH bucket join.
    * No cross product: cost is sum of bucket sizes squared, and heavily
    * skewed buckets are split by AQE skew handling.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bandSize: Int = 4
  ): DataFrame = {
    // not persisted: the three consumers below share identical subplans,
    // so Spark's ReusedExchange covers the shuffle-side duplication, and a
    // lazy API must not leak cache entries it can never unpersist
    val withShingles = docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
    val withSig = withShingles.withColumn("sig", minhashSignature(col("sh"), numHashes))

    // Band join carries ONLY (id, band): at scale the shingle arrays are
    // the payload, and shuffling them through the self-join would dwarf
    // the join itself. Attributes re-attach by id after the distinct.
    val numBands = numHashes / bandSize
    val banded = withSig.select(
      col("id"),
      explode(
        array((0 until numBands).map { bi =>
          struct(lit(bi).as("band_idx"), xxhash64(slice(col("sig"), bi * bandSize + 1, bandSize)).as("band_hash"))
        }: _*)
      ).as("band")
    )

    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a
      .join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val result = candidates
      .join(withShingles.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withShingles.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    result
  }

  /** Portable MinHash signature table: (id, sig) where sig is an array of
    * `numHashes` md5-hex minima over word-3-shingles — the md5 twin of
    * [[minhashSignature]] (which uses the faster xxhash64), chosen when
    * the signature itself must be an engine-portable persisted artifact
    * (the incremental dedup index, oracle twins). Docs with no shingles
    * (under 3 words) produce no row — they cannot near-dup by shingles.
    */
  def minhashSignaturePortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      shingleK: Int = 3
  ): DataFrame = {
    val grams = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleK)).as("gram"))
    val mh = grams
      .select(col("id"), col("gram"),
        explode(typedlit((0 until numHashes).toList)).as("seed"))
      .groupBy("id", "seed")
      .agg(min(md5(concat(col("seed").cast("string"), lit(":"), col("gram")))).as("h"))
    mh.groupBy("id")
      .agg(array_sort(collect_list(struct(col("seed"), col("h")))).as("sh"))
      .select(col("id"), expr("transform(sh, x -> x.h)").as("sig"))
  }

  /** Incremental near-dup detection: a NEW batch of signatures against an
    * append-only signature index — the daily-ingest shape, where the
    * existing corpus is never re-shingled, re-hashed, or re-joined against
    * itself.
    *
    * `index` and `batch` are (id, sig) frames ([[minhashSignaturePortable]]
    * or [[minhashSignature]] output; ids must be disjoint). Candidates
    * share at least one band of `bandSize` consecutive signature slots;
    * old-old pairs are excluded by construction — old bands enter the
    * join only on the build side against new bands, so the join cost is
    * O(batch x bucket overlap), independent of corpus self-pair count.
    * Similarity is the signature agreement fraction (the standard unbiased
    * Jaccard estimate), so verification needs NO access to old text — the
    * index alone suffices. Pairs with estimate >= `minEst` are returned as
    * (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * Band keys join on the concatenated slot VALUES, so candidacy is
    * exactly reproducible across engines; at scale the key would be
    * digested to 8 bytes ([[minhashLshPairs]] does) — a pure bandwidth
    * trade that cannot change the result beyond hash collisions.
    */
  def incrementalSigPairs(
      index: DataFrame,
      batch: DataFrame,
      bandSize: Int = 4,
      minEst: Double = 0.5
  ): DataFrame = {
    def bands(sigs: DataFrame): DataFrame =
      sigs
        // a signature shorter than one band can never be a candidate
        // (sequence(0, -1) would DESCEND and fabricate a band shared by
        // everyone — the epochRepeat hazard); null slots (xxhash64 sigs
        // of shingle-less docs) would concat_ws-collapse to one shared
        // "" key and cross-product all short docs — drop both up front
        .where(size(col("sig")) >= bandSize &&
          !exists(col("sig"), s => s.isNull))
        .select(
          col("id"),
          explode(
            transform(
              expr(s"sequence(0, size(sig) div $bandSize - 1)"),
              bi => struct(
                bi.as("band_idx"),
                concat_ws("|",
                  transform(slice(col("sig"), bi * bandSize + 1, lit(bandSize)),
                    s => s.cast("string"))).as("band_key"))
            )
          ).as("band")
        )
    // old-old pairs are excluded STRUCTURALLY: the probe side is new bands
    // only, so old bands never meet each other
    val newBands = bands(batch)
    val allBands = bands(index).unionByName(newBands)
    // (id, band)-only join; sigs re-attach by id afterwards
    val cand = allBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.id") =!= col("b.id"))
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sigs = index.unionByName(batch)
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      // zip_with truncates to the shorter array, so an index and batch
      // signed with different numHashes would silently skew est_jaccard
      // (matches / size(sig_a) with a truncated zip). Mixed lengths mean
      // the index is mis-built — fail the job loudly rather than emit
      // biased estimates.
      .withColumn("matches",
        when(size(col("sig_a")) === size(col("sig_b")),
          aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v))
          .otherwise(raise_error(concat(
            lit("incrementalSigPairs: signature length mismatch ("),
            size(col("sig_a")), lit(" vs "), size(col("sig_b")),
            lit(") for pair "), col("id_a").cast("string"), lit("/"),
            col("id_b").cast("string"),
            lit(") — index and batch must use the same numHashes")))))
      .withColumn("est_jaccard", col("matches").cast("double") / size(col("sig_a")))
      .where(col("est_jaccard") >= minEst)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Partition [0, 64) into exactly `numBands` contiguous non-empty bit
    * ranges as (lo, width) pairs. Even distribution (`lo = bi*64/numBands`)
    * — NOT ceil-width strides, which over-shoot 64 for many band counts,
    * producing fewer effective bands (recall loss) or zero-width bands
    * (mask 0 -> every row in one bucket -> unblocked cross product).
    */
  private[graft] def bandRanges(numBands: Int): Seq[(Int, Int)] = {
    require(numBands >= 1 && numBands <= 64, s"numBands must be in [1, 64], got $numBands")
    (0 until numBands).map { bi =>
      val lo = bi * 64 / numBands
      val hi = (bi + 1) * 64 / numBands
      (lo, hi - lo)
    }
  }

  /** The shared band-explode of a 64-bit signature frame into
    * `maxHamming + 1` pigeonhole bands — the one audited banding used by
    * both the self-join ([[hammingPairsFromSigs]]) and the batch-vs-index
    * probe ([[incrementalHammingPairs]]). Null signatures are dropped
    * here: struct equality treats null fields as equal, so null-sig rows
    * would otherwise form one unblocked quadratic bucket that the
    * hamming filter only discards AFTER the join paid for it.
    */
  private def bandedSigs(sigs: DataFrame, idCol: String, sigCol: String, maxHamming: Int): DataFrame =
    sigs.where(col(sigCol).isNotNull).select(
      col(idCol).as("id"),
      col(sigCol).as("_sig"),
      explode(array(bandRanges(maxHamming + 1).zipWithIndex.map { case ((lo, width), bi) =>
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        struct(
          lit(bi).as("band_idx"),
          shiftright(col(sigCol), lo).bitwiseAND(lit(mask)).as("band_val")
        )
      }: _*)).as("band")
    )

  /** Near-dup pairs within `maxHamming` bits over an ALREADY-COMPUTED
    * 64-bit signature column — a text simhash or image dHash (the
    * Pipeline's image dedup) — so every 64-bit perceptual signature
    * shares one audited pair generator. Pigeonhole banding into
    * `maxHamming + 1` chunks keeps recall complete for any radius in
    * [0, 63]; the join key is the band, never the corpus, so pair work
    * is bucket-quadratic, not corpus-quadratic.
    */
  def hammingPairsFromSigs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val banded = bandedSigs(sigs, idCol, sigCol, maxHamming)
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).as("hamming")
      )
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  /** Near-dup pairs BETWEEN a new batch's 64-bit signatures and an
    * existing signature index, within `maxHamming` bits — the
    * incremental twin of [[hammingPairsFromSigs]] (the
    * [[incrementalSigPairs]] contract for the Hamming family): the
    * index is probed, never self-joined, so a daily batch pays
    * batch-vs-bucket work instead of re-pairing the whole corpus.
    * Output `(id_index, id_batch, hamming)`; rows whose ids coincide
    * are excluded (a replayed row is not a duplicate of itself).
    *
    * Scale shape: both sides band-explode into `maxHamming + 1`
    * (band_idx, band_val) keys (pigeonhole-complete recall) and join on
    * the band — 8-byte signatures only, payloads never move. At 100 TB
    * the index side's banding is computed on read here; persist the
    * banded projection as an artifact to skip even that scan per batch.
    */
  def incrementalHammingPairs(
      indexSigs: DataFrame,
      batchSigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming must be in [0, 63], got $maxHamming")
    val a = bandedSigs(indexSigs, idCol, sigCol, maxHamming).as("a")
    val b = bandedSigs(batchSigs, idCol, sigCol, maxHamming).as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") =!= col("b.id"))
      .select(
        col("a.id").as("id_index"),
        col("b.id").as("id_batch"),
        bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).as("hamming")
      )
      .dropDuplicates("id_index", "id_batch")
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair set: every document gets
    * the MIN id of its transitive near-dup cluster — the step that turns
    * pairwise dedup output into canonical groups (keep one per cluster,
    * attribute all members to it).
    *
    * Min-label propagation with path-halving: each iteration every node
    * takes the min of its own, its neighbors', and its label's label
    * (labels are node ids, and label(x) <= x stays within the component,
    * so the indirection hop is sound and monotone). The neighbor step
    * alone converges in O(cluster diameter) rounds; the shortcut hop
    * doubles propagation distance per round, so convergence is
    * O(log diameter) — iteration count, not per-round volume, dominates
    * wall-clock for the shallow clusters near-dup graphs produce.
    *
    * Scale shape: edges are restricted to node-node pairs up front
    * (endpoints outside `nodes` never influence the result — they were
    * previously dropped one join later) and checkpointed once; every
    * per-round shuffle carries only (id, label) pairs; labels are
    * localCheckpointed per round so iteration does not grow lineage.
    * Deterministic output regardless of partitioning.
    */
  def nearDupClusters(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIterations: Int = 50
  ): DataFrame = {
    import graft.util.Checkpoints
    val nodeIds = nodes.select(col(idCol).as("id")).distinct()
    val spark = nodes.sparkSession
    val edges = Checkpoints.pin(pairs
      .select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .join(nodeIds.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(nodeIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"))
    var labels = Checkpoints.pin(nodeIds.withColumn("label", col("id")))
    // blocks of the round being superseded; released as soon as the next
    // round is materialized, so deep iteration holds O(1) rounds of blocks
    var livePin = Checkpoints.pinnedRddIds(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val nbrMin = edges
        .join(labels, edges("src") === labels("id"))
        .groupBy(col("dst"))
        .agg(min("label").as("nbr_label"))
      // checkpointed BEFORE the self-join below: un-materialized, the
      // neighbor-min join+aggregate subtree would execute once per side
      // (ReuseExchange dedups exchanges, not post-shuffle join/agg work)
      val stepped = Checkpoints.pin(labels
        .join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(
          labels("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          labels("label").as("old_label")
        ))
      // path-halving: label <- label(label). Every label is itself a node
      // id present in `stepped`, so the lookup is total (left join only
      // for safety).
      val parent = stepped.select(col("id").as("pid"), col("label").as("plabel"))
      // old label rides along through the ONE checkpoint action, so the
      // convergence check is a cheap filter-count on checkpointed data
      // instead of a second join per round. (A second chained hop was
      // measured and rejected: it saves one round but its extra join
      // costs more than the round saved.)
      val updated = Checkpoints.pin(stepped
        .join(parent, stepped("label") === parent("pid"), "left")
        .select(
          stepped("id"),
          least(stepped("label"), coalesce(col("plabel"), stepped("label"))).as("label"),
          stepped("old_label")
        ))
      val changed = updated.where(col("label") < col("old_label")).count()
      // `updated` is materialized: the intermediate `stepped` and the
      // previous round's labels are superseded — free their blocks now
      Checkpoints.release(Checkpoints.pinnedRddIds(stepped) ++ livePin, spark)
      labels = updated.select("id", "label")
      livePin = Checkpoints.pinnedRddIds(updated)
      converged = changed == 0
      iter += 1
    }
    // the result depends only on the final round's checkpoint; the edge
    // table is no longer referenced
    Checkpoints.release(Checkpoints.pinnedRddIds(edges), spark)
    if (sys.env.contains("GRAFT_DEBUG_CC")) println(s"[cc] converged after $iter rounds")
    labels.withColumnRenamed("label", "cluster")
  }

  /** Near-duplicate dedup: keep one canonical document (the min id) per
    * transitive near-dup cluster — [[nearDupClusters]] composed into the
    * same keep-the-representative contract as [[exactDedup]]. The
    * keeper set is (id == cluster) on the label table — id-only columns —
    * and thins the full rows by a semi-join, so document payloads never
    * shuffle.
    */
  def nearDedup(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b"
  ): DataFrame =
    // losers (cluster != id) rather than keepers: the loser set is the
    // smaller side of a near-dup thinning, and the anti-join keeps
    // unlabeled docs by construction — the same contract
    // nearDedupFromClusters offers for precomputed label tables
    nearDedupFromClusters(docs, idCol, nearDupClusters(docs, idCol, pairs, idACol, idBCol))

  /** [[nearDedup]] over a PRECOMPUTED label table (the output of
    * [[nearDupClusters]], e.g. served by [[clustersCached]]):
    * keep the MIN-id member of each cluster AMONG THE DOCS PRESENT. The
    * representative is computed over `docs`, not assumed to be the label
    * value: when the canonical doc was filtered away upstream (quality
    * gate, language gate), its cluster falls to the next surviving member
    * instead of vanishing from the corpus. Docs absent from `clusters`
    * are kept — an unlabeled doc is its own cluster — so a label table
    * computed over a sub- or super-set corpus stays usable.
    *
    * This is the artifact-reuse half of near-dup dedup: the iterative CC
    * build runs ONCE per corpus ([[nearDupClusters]] -> [[clustersCached]]),
    * and every later dedup/curation pass is this per-cluster min plus one
    * anti-join — all on id-only columns, so document payloads never
    * shuffle. (When `docs` IS the label corpus, the min present member is
    * the label itself and this reduces to the plain losers anti-join.)
    */
  def nearDedupFromClusters(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val present = docs
      .select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "inner") // (id, cluster) of surviving members
    val keepers = present.groupBy("cluster").agg(min("id").as("id")).select("id")
    val losers = present.select("id").join(keepers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster thinning: keep the `n` BEST-scoring members of
    * every near-dup cluster instead of the min-id one — the curation stance
    * when duplicates differ in extraction quality (keep the cleanest copy,
    * or top-n for deliberate benign duplication). Ordering is (score desc,
    * id asc), a total order, so the survivors are deterministic.
    *
    * Same artifact lifecycle as [[nearDedupFromClusters]]: `clusters` is
    * the persisted (id, cluster) label table; this pass costs one join to
    * the labels + a per-cluster window bounded by cluster size (near-dup
    * clusters are small by construction; a pathological mega-cluster is a
    * data bug the pair threshold should have caught). Docs absent from the
    * label table are dropped, matching the contract that labels cover the
    * clustered corpus slice.
    */
  def clusterRepresentatives(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      scoreCol: String,
      n: Int = 1
  ): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    // label + rank ride under underscore-prefixed internal names (the
    // _rk/_bk convention) so a docs frame that already carries a
    // `cluster` or `rn_rep` column can't make the join/window ambiguous
    // (ADVICE r4); the public `cluster` column is attached at the end.
    require(!docs.columns.contains("_rep_cluster") && !docs.columns.contains("_rn_rep"),
      "docs must not contain reserved columns _rep_cluster/_rn_rep")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("_rep_cluster")
      .orderBy(col(scoreCol).desc, col(idCol))
    val labeled = clusters.select(
      col("id").as(idCol), col("cluster").as("_rep_cluster"))
    docs
      .drop("cluster") // ours wins: the output's cluster IS the label
      .join(labeled, Seq(idCol), "inner")
      .withColumn("_rn_rep", row_number().over(win))
      .where(col("_rn_rep") <= n)
      .drop("_rn_rep")
      .withColumnRenamed("_rep_cluster", "cluster")
  }

  // Session-resident label tables (graft.util.SessionIndices): one CC run
  // per corpus key per session. Cached DataFrames are bound to the
  // building session; the registry must be cleared across session
  // restarts.
  private val resident = graft.util.SessionIndices.namespace[DataFrame]("dedup.clusters")

  /** Build-once cluster labels per corpus `key`; later callers reuse the
    * checkpointed label table instead of re-running pair detection + the
    * iterative CC build. The entry hands over the label table's checkpoint
    * RDDs, read directly off its plan (the CC loop has already released
    * every superseded round itself), so concurrent persists by other
    * operators are never claimed (ADVICE r4). The returned labels are a
    * projection over checkpoint blocks (or files, in reliable mode),
    * which `Dataset.unpersist` cannot free.
    */
  def clustersCached(key: String, nodes: => DataFrame, idCol: String, pairs: => DataFrame): DataFrame =
    resident.getOrBuild(key) {
      val labels = nearDupClusters(nodes, idCol, pairs)
      graft.util.SessionIndices.Resident.pinning(labels, labels)
    }

  /** Global duplicated-SPAN removal — exact-substring dedup at fixed
    * k-word span granularity (the "remove repeated passages" step of
    * published pretraining pipelines, cf. Lee et al. 2022's
    * exact-substring dedup; span granularity trades their suffix-array
    * generality for a pure DataFrame plan). Documents are cut into
    * consecutive k-word spans; across the WHOLE corpus only the first
    * occurrence of each span survives (document order, then span
    * position); surviving spans are stitched back per document.
    *
    * Returns (idCol, clean_text, n_spans, n_removed) — one row per input
    * doc with at least one word; a fully-duplicate doc comes back with
    * clean_text = "".
    *
    * Scale shape: one shuffle keyed by the span text for the global
    * first-occurrence window (payload: span + (id, idx) — ~tens of bytes
    * per span), one reassembly shuffle keyed by doc id carrying only
    * surviving spans. At 100 TB key the window by xxhash64(span) and
    * carry the hash alone through the exchange, re-attaching span text by
    * (id, idx) afterwards; the span text itself is kept as the key here
    * for oracle-exactness.
    */
  def dedupSpansGlobal(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8
  ): DataFrame = {
    require(k >= 1, s"span width must be >= 1, got $k")
    val spans = docs
      .select(
        col(idCol),
        TextFunctions.bindOnce(
          filter(split(col(textCol), TextFunctions.Ws + "+"), w => length(w) > 0),
          ws =>
            // ceil(size/k) spans; sequence() DESCENDS on an empty doc
            // (sequence(0,-1)), so guard size >= 1
            when(
              size(ws) >= 1,
              transform(
                sequence(lit(0), (size(ws) + lit(k - 1)).divide(lit(k)).cast("int") - 1),
                i => array_join(slice(ws, i * k + 1, lit(k)), " ")
              )
            )
        ).as("spans")
      )
      .where(col("spans").isNotNull)
      .select(col(idCol), posexplode(col("spans")).as(Seq("seg_idx", "seg")))

    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy("seg")
      .orderBy(col(idCol), col("seg_idx"))
    spans
      .withColumn("rn", row_number().over(firstSeen))
      .groupBy(col(idCol))
      .agg(
        // when() without otherwise yields NULL for removed spans and
        // collect_list drops nulls — surviving spans only, re-ordered by
        // position via the struct sort (collect_list alone is
        // partition-order-dependent)
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")
          ),
          " "
        ).as("clean_text"),
        count(lit(1)).as("n_spans"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed")
      )
  }

  /** Word n-gram Jaccard similarity for all pairs above `threshold`,
    * blocked by shared n-grams (a pair is compared only if it shares at
    * least one n-gram — which any pair above a positive threshold must).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    val withSh = docs
      .select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0)
    // pinned (r18): the planner turns the gram self-join below into a
    // broadcast join, so WITHOUT the pin the interpreted shingling pass
    // (higher-order functions don't codegen) executed once per join side;
    // the pin computes shingles once and both sides read the blocks
    val exploded = graft.util.Checkpoints.pin(
      withSh.select(col("id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("gram")))
    val a = exploded.as("a")
    val b = exploded.as("b")
    val inter = a
      .join(b, col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
