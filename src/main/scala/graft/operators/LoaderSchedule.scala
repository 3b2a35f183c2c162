package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Loader-side SCHEDULING over an [[SequencePacking.exportShards]] store
  * — the layer between the certified shard files and a training job's
  * data-loader workers. The store answers "what are the bins"; this
  * answers "in what order does epoch E consume them, where does a
  * checkpoint resume, which worker reads which bin, and how do K domain
  * stores interleave under mixture weights". Everything here is a pure
  * function of (store manifest state, epoch seed) — no RNG state, no
  * driver-side ordering — so a preempted run, a different partition
  * layout, or a different engine re-derives the identical schedule
  * (the same determinism contract as [[TrainingOrder.shuffled]] and the
  * reason the DuckDB oracle can pin every verb here hash-exact).
  *
  * LIVE-INGEST CAVEAT: a store under continuous [[SequencePacking
  * .appendShards]] cadence (the streaming trainer-shard sink) mutates
  * its manifest every micro-batch, so epoch permutations over it are
  * per-SNAPSHOT by construction — schedule between appends (every verb
  * here certifies against the manifest it reads, and [[mintCursor]]
  * stamps exactly that state), train on the snapshot's schedule, and
  * let [[resumeFromChecked]] fail loud when the ingest has moved the
  * store under a checkpoint. That loud failure is the designed
  * behavior, not a limitation: an epoch over a moving corpus is not a
  * well-defined permutation, and the re-sync path (rebuild + explicit
  * resume) is how a trainer opts into the new snapshot.
  *
  * Schedules are BIN-granular: one row per packed bin, never per token.
  * At 100 TB (~25 T tokens / 2048-token bins ≈ 12 B bins) the schedule
  * is a ~1000× reduction of the data it orders, and building it touches
  * only the three metadata columns `(shard, bin_id, bin_tokens)` — a
  * column-pruned scan that never reads an `input_ids` byte. The global
  * order + running token total come from one range shuffle of those
  * metadata rows (the exact two-pass rank of [[Ranks.withGlobalRank]],
  * extended with a per-partition token prefix so `cum_tokens` is exact
  * without a single-task window).
  */
object LoaderSchedule {

  /** The certified identity of a store's manifest state: the three
    * manifest sums — bin count, token total, and the summed per-bin
    * content digest. Any append, retraction, or compaction-gone-wrong
    * moves at least one of them (the digest is content-derived, so even
    * a same-size content swap moves it). This is the fingerprint a
    * schedule's checkpoint cursor carries so a resume against a MUTATED
    * store fails loud instead of silently mapping the cursor into a
    * different permutation (r15 verdict #3).
    */
  final case class StoreStamp(nBins: Long, nTokens: Long, digest: Long)

  /** What a trainer PERSISTS at a checkpoint: the consumed-token cursor
    * plus the PER-STORE stamps of the state the schedule was built over
    * (per-store, not summed — a summed fingerprint could cancel across
    * stores: retract content from one domain and land the same token
    * count in another and the sums may collide, while the per-path
    * comparison catches it). Mint ONCE with [[mintCursor]] WHEN THE
    * SCHEDULE IS BUILT; advance at checkpoints with [[Cursor.at]];
    * resume with [[resumeFromChecked]].
    */
  final case class Cursor(afterTokens: Long, stamps: Seq[(String, StoreStamp)]) {
    /** Advance the consumed-token cursor WITHOUT re-reading the stores.
      * The stamps must keep witnessing the state the schedule was BUILT
      * over — a trainer that re-minted at checkpoint time would stamp
      * post-mutation state and mask exactly the drift
      * [[resumeFromChecked]] exists to catch (train under S1, takedown
      * mutates to S2, checkpoint stamps S2, resume against S2 passes —
      * silently in the wrong permutation).
      */
    def at(newAfterTokens: Long): Cursor = copy(afterTokens = newAfterTokens)
  }

  /** The epoch-E permutation key: `md5(seed || ':' || bin_id)` — uniform,
    * stateless, engine-portable (Spark and DuckDB agree on the lowercase
    * hex), and re-derivable for any subset of bins (which is what lets
    * [[SequencePacking.appendShards]]-grown stores slot new bins into the
    * next epoch with no reshuffle bookkeeping).
    */
  private def epochKey(seed: String): Column =
    md5(concat(lit(seed), lit(":"), col("bin_id").cast("string")))

  /** Deterministic epoch schedule over a certified store: one row per
    * bin, ordered by the epoch-keyed permutation, with the exact running
    * token total. Returns `(ord, shard, bin_id, n_tokens, cum_tokens)` —
    * `ord` 1-based global position, `cum_tokens` the tokens consumed
    * once this bin is done (the checkpoint cursor a trainer persists).
    *
    * CERTIFIED: before scheduling, the pruned scan's bin count and token
    * total are checked against the stored manifest sums — loud on any
    * drift (lost files, stale manifest, mid-mutation crash), so a
    * schedule can never silently order a corrupt store. (Per-bin byte
    * certification stays [[SequencePacking.readShard]]'s job at read
    * time; the schedule only ever sees metadata.)
    *
    * Scale shape: one column-pruned scan of `(shard, bin_id, bin_tokens)`,
    * one range shuffle of those rows on the md5 key, a #partitions-sized
    * driver aggregate for the rank/prefix offsets, and a broadcast join
    * back. Nothing touches packed ids; nothing is single-task.
    */
  def epochSchedule(
      spark: SparkSession,
      path: String,
      seed: String,
      partitions: Int = 0
  ): DataFrame = {
    val (bins, _) = certifiedBins(spark, path)
    rankAndRunningTokens(bins, seed, partitions)
      .select("ord", "shard", "bin_id", "n_tokens", "cum_tokens")
  }

  /** Multi-epoch training plan: `nEpochs` independent epoch permutations
    * of the same certified store, concatenated with GLOBALLY continuing
    * `ord` and `cum_tokens` — the coordinate system a trainer checkpoints
    * when it runs more than one pass (a global token cursor resumes
    * mid-epoch-3 through plain [[resumeFrom]], no per-epoch bookkeeping).
    * Epoch e's permutation key is seeded `"$seed/$e"`, so epochs are
    * mutually independent uniform shuffles and any single epoch equals
    * `epochSchedule(path, s"$seed/$e")` exactly. Returns
    * `(ord, epoch, shard, bin_id, n_tokens, cum_tokens)`, epoch 1-based.
    *
    * Offsets are metadata: every epoch covers the same store, so epoch
    * e starts at `ord = (e-1)*n_bins + 1` and
    * `cum = (e-1)*total_tokens + ...` — two manifest sums, no extra
    * shuffle beyond each epoch's own schedule pass.
    */
  def epochPlan(
      spark: SparkSession,
      path: String,
      seed: String,
      nEpochs: Int,
      partitions: Int = 0
  ): DataFrame = {
    require(nEpochs >= 1, s"need nEpochs >= 1, got $nEpochs")
    // certify ONCE — the store is immutable across the plan's epochs, so
    // each epoch reuses the same certified bin frame and the offsets come
    // from the totals the certification already established
    val (bins, stamp) = certifiedBins(spark, path)
    epochPlanFromBins(bins, stamp, seed, nEpochs, partitions)
  }

  /** [[epochPlan]] over an ALREADY-certified `(bins, stamp)` pair — the
    * shared core that lets [[planForTokens]] derive its epoch count and
    * build its plan from ONE certification (ADVICE r16: reading the
    * store twice non-atomically let an append land between the two
    * reads, silently under-filling the token budget).
    */
  private def epochPlanFromBins(
      bins: DataFrame,
      stamp: StoreStamp,
      seed: String,
      nEpochs: Int,
      partitions: Int
  ): DataFrame = {
    // The epoch dimension is generated IN-FRAME (r17 verdict #1): bins ×
    // a broadcast epoch range, permutation key derived from the epoch
    // COLUMN, and ONE global rank+prefix pass ordered by (epoch, key,
    // bin_id). Because every epoch covers the same store, ranking the
    // whole expanded frame by epoch-first IS the concatenation of the
    // per-epoch permutations with exactly the old (e-1)*nBins /
    // (e-1)*total offsets — same rows, same coordinates, but O(1) Spark
    // jobs instead of one union branch + one partition-count job per
    // epoch (a 10,000-epoch budget plan used to run ~20,000 driver-paced
    // jobs before serving its first row). The key string matches the old
    // per-epoch literal `epochKey(s"$seed/$e")` byte for byte, so every
    // schedule this verb ever produced is unchanged. The rank's
    // partition count scales with the EXPANDED row count (review r18):
    // the old shape ranked each epoch separately with tasks bounded at
    // O(nBins/nParts); the expanded frame must not funnel nBins*nEpochs
    // rows through a fixed 32 partitions.
    rankAndCumOver(
      withEpochsInFrame(bins, nEpochs)
        .withColumn("_k", md5(concat(lit(s"$seed/"), col("epoch").cast("string"),
          lit(":"), col("bin_id").cast("string")))),
      Seq(col("epoch"), col("_k"), col("bin_id")),
      scaledPartitions(partitions, bins.sparkSession, stamp.nBins, nEpochs.toLong))
      .select("ord", "epoch", "shard", "bin_id", "n_tokens", "cum_tokens")
  }

  /** Metadata rows a single rank/prefix task should hold — ~4M rows of
    * (shard, bin_id, n_tokens, epoch, key) is ~150 MB, comfortably
    * inside an executor task at the engine's target configs.
    */
  private val RowsPerSchedulePartition = 4L * 1000L * 1000L

  /** The rank pass's partition count for an epoch-EXPANDED frame: the
    * caller's explicit choice when given, else the session default
    * scaled up so no task holds more than [[RowsPerSchedulePartition]]
    * expanded metadata rows — the in-frame expansion multiplies row
    * count by the repeat factor, and a fixed default would funnel a
    * 10,000-epoch plan's rows through 32 tasks (review r18). Pure
    * driver arithmetic from certified stamps; saturates (never
    * overflows) on absurd products because the row target division
    * happens in BigInt.
    */
  private def scaledPartitions(
      explicit: Int,
      spark: SparkSession,
      streamRows: Long,
      reps: Long
  ): Int = {
    if (explicit > 0) return explicit
    val default = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val rows = BigInt(streamRows) * BigInt(reps)
    val needed = (rows + RowsPerSchedulePartition - 1) / RowsPerSchedulePartition
    // cap at a sane ceiling: past ~262k partitions the scheduler itself
    // is the bottleneck and the plan needs a bigger rows-per-task budget
    math.max(default.toLong, needed.min(BigInt(1 << 18)).toLong).toInt
  }

  /** `bins` × the 1-based epoch range, as a broadcast nested-loop join —
    * each bin row fans out to `nEpochs` rows IN PLACE (no shuffle; the
    * broadcast side is `nEpochs` longs), which is what keeps a
    * many-epoch plan's cost independent of the repeat count.
    */
  private def withEpochsInFrame(bins: DataFrame, nEpochs: Int): DataFrame =
    bins.crossJoin(broadcast(
      bins.sparkSession.range(1L, nEpochs.toLong + 1L).toDF("epoch")))

  /** Token-budget plan: the shortest [[epochPlan]] prefix that reaches
    * `targetTokens` — the "train for T tokens" ask (Chinchilla-style
    * budgets and the Pile/LLaMA runs quote token counts, which rarely
    * align to whole epochs). Derives the epoch count from the certified
    * store total (`ceil(T / total)`), builds that plan, and keeps
    * exactly the bins whose segment STARTS before the target
    * (`cum_tokens - n_tokens < T`) — the last kept bin is the one that
    * crosses T, so a trainer consuming the result in order stops at the
    * first cursor >= T, and [[resumeFrom]] / [[workerSlices]] /
    * [[mintCursor]] compose unchanged (`ord` and `cum_tokens` are the
    * untruncated plan's coordinates). Pure filter on top of the plan:
    * no extra shuffle, still bin-metadata-scale.
    */
  def planForTokens(
      spark: SparkSession,
      path: String,
      seed: String,
      targetTokens: Long,
      partitions: Int = 0
  ): DataFrame = {
    require(targetTokens > 0L, s"need targetTokens > 0, got $targetTokens")
    // certify ONCE and build the plan from that same (bins, stamp): the
    // epoch count and the plan's cum_tokens coordinates must witness the
    // SAME store state (ADVICE r16 — a second read would let a
    // concurrent append make the derived epoch count under-fill the
    // budget against the plan's own coordinates)
    val (bins, stamp) = certifiedBins(spark, path)
    val total = stamp.nTokens
    require(total > 0L,
      s"planForTokens: store at $path holds no tokens — nothing to budget")
    val nEpochs = (targetTokens + total - 1L) / total
    require(nEpochs <= Int.MaxValue.toLong,
      s"planForTokens: $targetTokens tokens over a $total-token store is " +
        s"$nEpochs epochs — not a real training plan")
    epochPlanFromBins(bins, stamp, seed, nEpochs.toInt, partitions)
      .where(col("cum_tokens") - col("n_tokens") < targetTokens)
  }

  /** Mid-epoch resume: the rows of `schedule` still unconsumed after a
    * trainer checkpointed at `afterTokens` consumed tokens — the longest
    * consumed prefix is exactly the bins with `cum_tokens <= afterTokens`
    * (a bin is consumed atomically; a cursor mid-bin re-reads that bin).
    * Works on [[epochSchedule]] and [[mixtureSchedule]] output alike.
    * Pure filter: resume costs a schedule scan, never a re-shuffle, and
    * `consumed prefix ∪ resume == the full schedule` by construction.
    */
  def resumeFrom(schedule: DataFrame, afterTokens: Long): DataFrame =
    schedule.where(col("cum_tokens") > afterTokens)

  /** The certified stamp of the store at `path` RIGHT NOW — the manifest
    * sums, with the same files-vs-manifest certification every schedule
    * verb runs (a stamp of an uncertifiable store would fingerprint
    * corruption as if it were a state).
    */
  def storeStamp(spark: SparkSession, path: String): StoreStamp =
    certifiedBins(spark, path)._2

  /** Mint the checkpoint cursor a trainer persists: `afterTokens`
    * consumed, against the per-store stamps of the schedule's input
    * stores (ONE path for [[epochSchedule]]/[[epochPlan]]; every
    * domain's path for [[mixtureSchedule]]/[[mixturePlan]]). Mint ONCE,
    * WHEN THE SCHEDULE IS BUILT — the stamp must witness the state the
    * permutation was derived from; later checkpoints advance the token
    * cursor with [[Cursor.at]], never by re-minting (see [[Cursor.at]]
    * for the trap re-minting opens). The seed and the domain→path
    * binding are the caller's inputs, pinned by the caller alongside the
    * cursor exactly like the seed itself.
    */
  def mintCursor(spark: SparkSession, paths: Seq[String], afterTokens: Long): Cursor = {
    require(paths.nonEmpty, "mintCursor: pass the schedule's store path(s)")
    val normed = paths.map(normalizePath)
    require(normed.distinct.length == normed.length,
      s"mintCursor: duplicate store paths in ${paths.mkString(", ")}")
    Cursor(afterTokens, paths.zip(normed).map { case (p, n) => n -> storeStamp(spark, p) })
  }

  /** Canonical spelling of a store path for cursor-stamp matching
    * (ADVICE r16: exact string equality rejected `/x/y/` vs `/x/y` and
    * relative vs absolute spellings of the SAME store as "a different
    * store set"). One rule shared with the writer-lease key
    * ([[graft.util.PathKeys]]).
    */
  private def normalizePath(p: String): String = graft.util.PathKeys.normalize(p)

  /** STALE-CURSOR-CHECKED resume (r15 verdict #3): verify the stores
    * still carry the exact manifest state `cursor` was minted against,
    * then [[resumeFrom]]. A cursor is only meaningful inside the
    * permutation it was minted in; after a mid-training retraction or
    * append the re-derived schedule is a DIFFERENT (re-certified, valid)
    * ordering, and plain `resumeFrom` would silently map the cursor to a
    * different position in it. This verb fails loud instead, naming the
    * drift.
    *
    * RE-SYNC PATH after a legitimate mutation (documented, deliberate):
    * rebuild the schedule over the store's current state, decide what
    * `afterTokens` means against the NEW ordering — for an append-only
    * mutation the consumed token count is still a sound lower bound; after
    * a retraction some consumed tokens no longer exist and the cursor
    * over-counts — and then EXPLICITLY call
    * `resumeFrom(newSchedule, cursor.afterTokens)` (or re-mint at a safe
    * earlier cursor). The explicit step is the point: the engine will not
    * silently equate positions across two different permutations.
    */
  def resumeFromChecked(
      spark: SparkSession,
      paths: Seq[String],
      schedule: DataFrame,
      cursor: Cursor
  ): DataFrame = {
    require(paths.nonEmpty, "resumeFromChecked: pass the schedule's store path(s)")
    // compare CANONICAL spellings on both sides (ADVICE r16) — a cursor
    // minted before normalization existed still matches, because mint and
    // resume normalize identically
    require(paths.map(normalizePath).sorted == cursor.stamps.map(s => normalizePath(s._1)).sorted,
      s"resumeFromChecked: this cursor was minted over stores " +
        s"[${cursor.stamps.map(_._1).mkString(", ")}] but the resume names " +
        s"[${paths.mkString(", ")}] — a different store set is a different " +
        "schedule; a legitimately MOVED store needs a fresh schedule + cursor.")
    cursor.stamps.foreach { case (p, want) =>
      val now = storeStamp(spark, p)
      require(now == want,
        s"resumeFromChecked: store at $p drifted since this cursor was minted — " +
          s"cursor stamp (bins=${want.nBins}, tokens=${want.nTokens}, " +
          s"digest=${want.digest}) vs current (bins=${now.nBins}, " +
          s"tokens=${now.nTokens}, digest=${now.digest}). " +
          "The store was appended to, retracted from, or rewritten after the " +
          "schedule was built; the cursor maps into a DIFFERENT permutation now. " +
          "Re-sync deliberately: rebuild the schedule over the current store and " +
          "call resumeFrom(newSchedule, cursor.afterTokens) only after deciding " +
          "what the consumed-token count means against the new ordering (sound " +
          "lower bound after append-only growth; an over-count after a retraction).")
    }
    resumeFrom(schedule, cursor.afterTokens)
  }

  /** Assign schedule rows to `nWorkers` loader workers, round-robin on
    * the epoch order: `worker = (ord - 1) % nWorkers`. Each worker's
    * slice is itself in epoch order, sizes differ by at most one bin,
    * and — because the schedule order is a uniform permutation — each
    * slice is a uniform sample of the corpus (no worker trains on a
    * skewed slice). Re-sharding to a different worker count is a
    * metadata re-map, not a reshuffle ([[TrainingOrder]]'s convention).
    */
  def workerSlices(schedule: DataFrame, nWorkers: Int): DataFrame = {
    require(nWorkers >= 1, s"need nWorkers >= 1, got $nWorkers")
    schedule.withColumn("worker", pmod(col("ord") - 1L, lit(nWorkers.toLong)))
  }

  /** Deterministic domain-mixture schedule: interleave K certified
    * stores so that every prefix of the combined order serves each
    * domain in proportion to its weight — weighted fair queuing over
    * bins. Domain d's k-th bin (k 1-based, in d's own epoch-shuffled
    * order) is scheduled at virtual time `k * (L / w_d)` where `L =
    * lcm(weights)` — integer-exact, so Spark and the oracle agree to the
    * bit; ties break on (domain, k). A prefix of length n then holds
    * `n * w_d / W ± O(K)` bins of domain d — the mixture a
    * DoReMi/Pile-style training run asks the loader for, enforced by
    * construction instead of by sampling variance.
    *
    * Input: `(domain, path, weight)` per store, weights positive
    * integers (`lcm` must fit an Int — weights are ratios like 7:2:1,
    * not token counts). Returns
    * `(ord, domain, shard, bin_id, n_tokens, cum_tokens)` with `ord`
    * global over the interleave and `cum_tokens` the combined running
    * token total, so [[resumeFrom]] and [[workerSlices]] compose
    * unchanged. A domain that runs out of bins simply stops appearing
    * (the schedule is one epoch of each store, not an infinite sampler
    * — [[mixturePlan]] is the multi-epoch composition, with per-domain
    * repeat factors and the same globally-continuing coordinates).
    *
    * Scale shape: per store the same pruned certified scan as
    * [[epochSchedule]], one distributed rank per domain for k, then ONE
    * range shuffle of the unioned metadata rows on (vt, domain, k).
    */
  def mixtureSchedule(
      spark: SparkSession,
      stores: Seq[(String, String, Long)],
      seed: String,
      partitions: Int = 0
  ): DataFrame = {
    require(stores.nonEmpty, "mixtureSchedule: pass at least one store")
    require(stores.map(_._1).distinct.length == stores.length,
      "mixtureSchedule: domain names must be unique")
    require(stores.forall(_._3 > 0L), "mixtureSchedule: weights must be positive")
    val steps = vtSteps(stores.map(_._3), "mixtureSchedule")
    val certifyOnce = pathMemoizedCertify(spark)
    val perDomain = stores.map { case (domain, path, w) =>
      val (bins, stamp) = certifyOnce(path)
      // virtual times are UNGUARDED Long multiplies downstream (non-ANSI
      // Spark would wrap silently, corrupting the interleave while the
      // oracle errors): prove the domain's LARGEST vt — nBins * (lcm/w) —
      // fits a Long here, once, against the certified bin count (ADVICE r15)
      requireVtFits(stamp.nBins, steps(w), domain, "mixtureSchedule")
      // the permutation key carries the DOMAIN: every store's bin_ids
      // start at 0, so an unsalted md5(seed:bin_id) would give all K
      // domains the identical permutation — correlated curriculum in
      // every interleaved prefix instead of independent shuffles (the
      // same reason epochPlan seeds "$seed/$e" per epoch)
      val (ranked, _) = Ranks.withGlobalRank(
        bins.withColumn("_k", epochKey(s"$seed:$domain")),
        Seq(col("_k"), col("bin_id")), "_rank", partitions)
      ranked
        .withColumn("domain", lit(domain))
        .withColumn("_vt", col("_rank") * lit(steps(w)))
        .drop("_k")
    }
    val unioned = perDomain.reduce(_ unionByName _)
    rankAndCumOver(unioned, Seq(col("_vt"), col("domain"), col("_rank")), partitions)
      .select("ord", "domain", "shard", "bin_id", "n_tokens", "cum_tokens")
  }

  /** Multi-epoch MIXTURE plan (r15 verdict #4): [[epochPlan]] ×
    * [[mixtureSchedule]] — K certified stores, each with a mixture
    * weight AND a per-domain repeat factor (the Pile/LLaMA upsampling:
    * small high-quality domains run several epochs while the bulk runs
    * one), interleaved into ONE globally-continuing schedule with exact
    * `ord`/`cum_tokens`, so [[resumeFrom]], [[resumeFromChecked]] and
    * [[workerSlices]] compose unchanged.
    *
    * Semantics: domain d contributes `epochs_d` consecutive independent
    * epoch permutations of its store (epoch e keyed `"$seed:$domain/$e"`
    * — each epoch taken alone equals `epochSchedule(path,
    * s"$seed:$domain/$e")`'s ordering exactly, and epochs appear in
    * order within the domain). The domain's bins are one continuous
    * stream across its epochs — bin k of epoch e sits at stream position
    * `(e-1) * nBins_d + k` — and stream position k schedules at virtual
    * time `k * (lcm(weights) / w_d)`: weighted fair queuing over the
    * REPEATED streams, so every prefix of the combined order serves
    * domain d in proportion to `w_d` until d's repeat budget runs dry
    * (then it simply stops appearing, exactly like an exhausted domain
    * in [[mixtureSchedule]]). Ties break on (domain, stream position).
    *
    * Input: `(domain, path, weight, epochs)` per store. Returns
    * `(ord, domain, epoch, shard, bin_id, n_tokens, cum_tokens)`, epoch
    * 1-based within the domain.
    *
    * Scale shape: per (domain, epoch) the same pruned certified scan +
    * distributed rank as [[epochSchedule]] (the store is certified ONCE
    * per domain and the bin frame reused across its epochs), then ONE
    * range shuffle of the unioned metadata rows on (vt, domain, k) —
    * schedule rows are bins, never tokens, so at 100 TB this shuffles
    * ~1000× less than the data it orders.
    */
  def mixturePlan(
      spark: SparkSession,
      stores: Seq[(String, String, Long, Int)],
      seed: String,
      partitions: Int = 0
  ): DataFrame = {
    require(stores.nonEmpty, "mixturePlan: pass at least one store")
    require(stores.map(_._1).distinct.length == stores.length,
      "mixturePlan: domain names must be unique")
    require(stores.forall(_._3 > 0L), "mixturePlan: weights must be positive")
    require(stores.forall(_._4 >= 1), "mixturePlan: epochs must be >= 1")
    // certify ONCE per distinct store path (ADVICE r17: two domains over
    // one path used to certify the store twice non-atomically, so an
    // append between the reads could hand them inconsistent views);
    // every domain and epoch reuses the shared certified frame
    val certifyOnce = pathMemoizedCertify(spark)
    mixturePlanFromCertified(
      stores.map { case (domain, path, w, reps) =>
        val (bins, stamp) = certifyOnce(path)
        (domain, bins, stamp, w, reps)
      }, seed, partitions, "mixturePlan")
  }

  /** [[mixturePlan]] over ALREADY-certified per-domain `(bins, stamp)`
    * frames — the shared core [[planForTokensMixture]] builds on so its
    * derived repeat factors and the plan's coordinates witness ONE
    * certification per store (the [[planForTokens]] single-read rule).
    */
  private def mixturePlanFromCertified(
      certified: Seq[(String, DataFrame, StoreStamp, Long, Int)],
      seed: String,
      partitions: Int,
      verb: String
  ): DataFrame = {
    // IN-FRAME epoch expansion (r17 verdict #1). The old shape built one
    // ranked DataFrame per (domain, epoch) — `(1 to reps).map` + an
    // O(epochs)-way union, each epoch paying its own partition-count job
    // — so a small high-weight domain under a large budget (~10,000
    // epochs) ran ~20,000 driver-paced jobs before the first trainer row.
    // Now: each domain's bins fan out across a broadcast epoch range
    // (one frame per DOMAIN, size-independent of reps), the K domain
    // frames union once, and a SINGLE two-pass global rank ordered by
    // (domain index, epoch, key, bin_id) recovers every stream position:
    // within one domain the rank runs epoch-major, so
    // `rank - (rows of earlier domains)` IS the old
    // `(e-1)*nBins + within-epoch rank` — the WFQ clock input — with the
    // earlier-domain row counts known from the certified stamps
    // (metadata, no extra job). Keys match the old per-epoch literal
    // `epochKey(s"$seed:$domain/$e")` byte for byte, so every plan this
    // verb ever produced is unchanged; jobs are O(1) regardless of
    // domains × epochs.
    val steps = vtSteps(certified.map(_._4), verb)
    var streamOffset = 0L
    val perDomain = certified.zipWithIndex.map {
      case ((domain, bins, stamp, w, reps), dix) =>
        // the largest vt this domain ever takes is reps * nBins * (lcm/w)
        val streamLen =
          try math.multiplyExact(stamp.nBins, reps.toLong)
          catch {
            case _: ArithmeticException =>
              throw new IllegalArgumentException(
                s"$verb: domain '$domain' repeats ${stamp.nBins} bins x $reps " +
                  "epochs — the stream length itself overflows a Long")
          }
        requireVtFits(streamLen, steps(w), domain, verb)
        val myOffset = streamOffset
        streamOffset =
          try math.addExact(streamOffset, streamLen)
          catch {
            case _: ArithmeticException =>
              throw new IllegalArgumentException(
                s"$verb: the combined stream length of all domains overflows " +
                  s"a Long at domain '$domain' — not a real training plan")
          }
        withEpochsInFrame(bins, reps)
          .withColumn("_k", md5(concat(lit(s"$seed:$domain/"),
            col("epoch").cast("string"), lit(":"), col("bin_id").cast("string"))))
          .withColumn("domain", lit(domain))
          .withColumn("_dix", lit(dix.toLong))
          .withColumn("_doff", lit(myOffset))
          .withColumn("_step", lit(steps(w)))
    }
    // both rank passes see the EXPANDED union — scale their partition
    // counts to the combined stream length (known from the stamps; the
    // offset accumulator above just computed it), not the session default
    val nParts = scaledPartitions(
      partitions, certified.head._2.sparkSession, streamOffset, 1L)
    val (ranked, _) = Ranks.withGlobalRank(
      perDomain.reduce(_ unionByName _),
      Seq(col("_dix"), col("epoch"), col("_k"), col("bin_id")), "_grank", nParts)
    val clocked = ranked
      // stream position across the domain's repeated epochs — the WFQ
      // clock input, and the tie-break that keeps epochs in order
      .withColumn("_kpos", col("_grank") - col("_doff"))
      .withColumn("_vt", col("_kpos") * col("_step"))
      .drop("_k", "_grank", "_dix", "_doff", "_step")
    rankAndCumOver(clocked, Seq(col("_vt"), col("domain"), col("_kpos")), nParts)
      .select("ord", "domain", "epoch", "shard", "bin_id", "n_tokens", "cum_tokens")
  }

  /** BUDGET-DRIVEN mixture plan (r16 verdict #5): [[planForTokens]] ×
    * [[mixturePlan]] — the actual entry point of a Chinchilla-style run,
    * "train for T total tokens at weights 7:2:1". The engine derives
    * each domain's repeat factor from its token share and cuts the WFQ
    * interleave at the budget, instead of the user hand-deriving epoch
    * counts the engine can prove.
    *
    * Derivation (integer-exact, oracle-pinned): with `W = Σ weights`,
    * domain d's token share is `share_d = ceil(T * w_d / W)` (ceil on
    * every share, so the summed supply can never fall short of T) and
    * its repeat factor is `epochs_d = ceil(share_d / total_d)` — the
    * fewest whole epochs covering the share. The plan is then exactly
    * `mixturePlan(stores with epochs_d)` filtered to the bins whose
    * segment STARTS before the target (`cum_tokens - n_tokens < T`, the
    * [[planForTokens]] boundary): the last kept bin crosses T, the
    * coordinates stay the untruncated plan's, and [[resumeFrom]] /
    * [[resumeFromChecked]] / [[workerSlices]] compose unchanged.
    * Because the summed supply `Σ epochs_d * total_d >= Σ share_d >= T`,
    * the cut is always interior — a trainer consuming in order reaches
    * T before any domain's repeat budget matters. (Proportionality is
    * [[mixtureSchedule]]'s bin-level WFQ guarantee; a domain whose bins
    * run substantially larger than another's serves proportionally more
    * TOKENS per prefix — weights are bin-service ratios, as in every
    * mixture verb here.)
    *
    * Each store is certified ONCE and both the repeat derivation and
    * the plan build on that same `(bins, stamp)` — the [[planForTokens]]
    * single-read rule (ADVICE r16), so a concurrent append can never
    * desynchronize the derived epochs from the plan's coordinates.
    *
    * Input: `(domain, path, weight)` per store + the total budget.
    * Returns the [[mixturePlan]] shape:
    * `(ord, domain, epoch, shard, bin_id, n_tokens, cum_tokens)`.
    */
  def planForTokensMixture(
      spark: SparkSession,
      stores: Seq[(String, String, Long)],
      seed: String,
      targetTokens: Long,
      partitions: Int = 0
  ): DataFrame = {
    require(stores.nonEmpty, "planForTokensMixture: pass at least one store")
    require(stores.map(_._1).distinct.length == stores.length,
      "planForTokensMixture: domain names must be unique")
    require(stores.forall(_._3 > 0L), "planForTokensMixture: weights must be positive")
    require(targetTokens > 0L, s"need targetTokens > 0, got $targetTokens")
    val totalWeight = stores.map(s => BigInt(s._3)).sum
    val certifyOnce = pathMemoizedCertify(spark)
    val certified = stores.map { case (domain, path, w) =>
      val (bins, stamp) = certifyOnce(path)
      require(stamp.nTokens > 0L,
        s"planForTokensMixture: store at $path (domain '$domain') holds no tokens " +
          "— an empty domain cannot serve its weight share; drop it from the mixture")
      // share_d = ceil(T * w_d / W); epochs_d = ceil(share_d / total_d).
      // BigInt: T * w_d alone can overflow a Long at real budgets.
      val share = (BigInt(targetTokens) * BigInt(w) + totalWeight - 1) / totalWeight
      val epochs = (share + BigInt(stamp.nTokens) - 1) / BigInt(stamp.nTokens)
      require(epochs <= BigInt(Int.MaxValue),
        s"planForTokensMixture: domain '$domain' needs $epochs epochs of its " +
          s"${stamp.nTokens}-token store to serve a $share-token share — not a " +
          "real training plan")
      (domain, bins, stamp, w, epochs.toInt)
    }
    mixturePlanFromCertified(certified, seed, partitions, "planForTokensMixture")
      .where(col("cum_tokens") - col("n_tokens") < targetTokens)
  }

  /** Per-weight virtual-time STEP `lcm(weights)/w` — weighted fair
    * queuing's clock increment — computed over the weights REDUCED by
    * their gcd, so e.g. (300, 100) costs what (3, 1) does (the steps are
    * identical: lcm and w divide by the same g). The reduced lcm is
    * bounded to an Int so steps stay small exact Longs (weights are
    * RATIOS like 7:2:1, not token counts).
    */
  private def vtSteps(weights: Seq[Long], verb: String): Map[Long, Long] = {
    val g = weights.map(BigInt(_)).reduce(_ gcd _)
    val lcm = weights.map(BigInt(_) / g).reduce((a, b) => a / a.gcd(b) * b)
    require(lcm <= BigInt(Int.MaxValue),
      s"$verb: lcm(weights reduced by gcd $g) = $lcm — weights are mixture " +
        "RATIOS (reduce them; lcm must fit an Int so virtual times stay exact BIGINTs)")
    weights.map(w => w -> (lcm / (BigInt(w) / g)).toLong).toMap
  }

  /** The ADVICE-r15 overflow guard: the largest virtual time a domain's
    * stream takes — `streamLen * step` — must fit a Long, or the WFQ
    * interleave silently corrupts under non-ANSI Spark arithmetic.
    */
  private def requireVtFits(streamLen: Long, step: Long, domain: String, verb: String): Unit =
    require(step == 0L || streamLen <= Long.MaxValue / step,
      s"$verb: domain '$domain' would take virtual times up to " +
        s"$streamLen * $step, which overflows a Long — reduce the weight " +
        "ratios (lcm/weight is the per-domain step) or split the store")

  /** The certified pruned bin scan every schedule verb starts from:
    * `(shard, bin_id, n_tokens)` for each bin, with the scan's totals
    * checked against the stored manifest before any schedule is built.
    * Returns `(bins, stamp)` — the certified [[StoreStamp]] doubles as
    * the store totals callers need (epoch offsets) and as the
    * fingerprint [[mintCursor]]/[[resumeFromChecked]] pin.
    */
  private def certifiedBins(spark: SparkSession, path: String): (DataFrame, StoreStamp) = {
    spark.catalog.refreshByPath(s"$path/manifest")
    spark.catalog.refreshByPath(s"$path/data")
    val stored = spark.read.parquet(s"$path/manifest")
      .agg(sum("n_bins"), sum("n_tokens"), sum("digest")).head()
    if (stored.isNullAt(0)) {
      // ZERO manifest rows: a legitimately EMPTIED store — every document
      // retracted, a state the append/retract protocol explicitly supports
      // — iff the data scan is empty too (ADVICE r15: this used to be
      // misdiagnosed as 'mid-mutation, lost files', which no recovery
      // can make schedulable).
      // An empty store's schedule is simply empty; its stamp is the zero
      // stamp, so a cursor minted against it still detects later growth.
      // The data read is schema-tolerant here (and ONLY here): a fully
      // retracted store's shard dirs can hold zero parquet footers, which
      // fails schema inference — that IS the empty state.
      val nActual =
        try spark.read.parquet(s"$path/data").count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      require(nActual == 0L,
        s"LoaderSchedule: store at $path FAILS certification — the manifest " +
          s"has no rows but the files hold $nActual bins. The store " +
          "is mid-mutation or was written outside the export/append/retract " +
          "protocol; re-export it before scheduling.")
      return (emptyBins(spark), StoreStamp(0L, 0L, 0L))
    }
    val bins = spark.read.parquet(s"$path/data")
      .select(col("shard").cast("long").as("shard"), col("bin_id"),
        col("bin_tokens").as("n_tokens"))
    val actual = bins.agg(count(lit(1)), sum("n_tokens")).head()
    require(stored.getLong(0) == actual.getLong(0) &&
      stored.getLong(1) == actual.getLong(1),
      s"LoaderSchedule: store at $path FAILS certification — manifest records " +
        s"${stored.getLong(0)} bins / ${stored.getLong(1)} tokens but the files hold " +
        s"${actual.getLong(0)} / ${if (actual.isNullAt(1)) 0L else actual.getLong(1)}. " +
        "The store is mid-mutation, lost files, or was written outside the " +
        "export/append/retract protocol; re-export it before scheduling.")
    (bins, StoreStamp(stored.getLong(0), stored.getLong(1), stored.getLong(2)))
  }

  /** A memoizing view of [[certifiedBins]] keyed by the CANONICAL path
    * spelling (ADVICE r17): a mixture naming one store under two domains
    * — or under two spellings of one path — certifies it exactly once,
    * so every domain sees the SAME (bins, stamp) snapshot; a concurrent
    * append between two certifications can no longer hand the domains
    * inconsistent views of one store.
    */
  private def pathMemoizedCertify(
      spark: SparkSession): String => (DataFrame, StoreStamp) = {
    val memo = scala.collection.mutable.Map.empty[String, (DataFrame, StoreStamp)]
    p => memo.getOrElseUpdate(normalizePath(p), certifiedBins(spark, p))
  }

  /** The schema-correct empty bin frame an emptied store schedules as. */
  private def emptyBins(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("shard", LongType), StructField("bin_id", LongType),
        StructField("n_tokens", LongType))))
  }

  /** Epoch-key the bins and hand off to the shared rank+prefix pass. */
  private def rankAndRunningTokens(
      bins: DataFrame,
      seed: String,
      partitions: Int
  ): DataFrame =
    rankAndCumOver(bins.withColumn("_k", epochKey(seed)),
      Seq(col("_k"), col("bin_id")), partitions).drop("_k")

  /** Exact distributed (global rank, running token sum) over `sortCols`
    * — [[Ranks.withGlobalRank]]'s two-pass range-partition shape,
    * extended with a per-partition token-prefix offset so `cum_tokens`
    * never needs an unpartitioned window: range-shuffle on the sort
    * key (pinned so both passes see identical partitions), collect the
    * #partitions-sized (row count, token sum) ladder, broadcast the
    * cumulative offsets back, and add them to the per-partition
    * row_number / prefix sum. Adds `ord` (1-based BIGINT) and
    * `cum_tokens` (BIGINT, inclusive of the current bin); requires an
    * `n_tokens` column. The pin is referenced by the returned plan and
    * freed by Spark's ContextCleaner once the caller drops it (the
    * Ranks convention).
    */
  private def rankAndCumOver(
      df: DataFrame,
      sortCols: Seq[Column],
      partitions: Int
  ): DataFrame = {
    val spark = df.sparkSession
    val reserved = Seq("_pid", "_rn", "_ct", "_offn", "_offt", "ord", "cum_tokens")
    require(!df.columns.exists(reserved.contains),
      s"schedule input must not contain reserved columns ${reserved.mkString("/")}")
    val nParts =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = graft.util.Checkpoints.pin(
      df.repartitionByRange(nParts, sortCols: _*)
        .withColumn("_pid", spark_partition_id()))
    val stats = ranged.groupBy("_pid")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("t")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val offsets = {
      var accN = 0L
      var accT = 0L
      stats.keys.toSeq.sorted.map { pid =>
        val o = (pid, accN, accT)
        accN += stats(pid)._1
        accT += stats(pid)._2
        o
      }
    }
    val offDf = spark.createDataFrame(
      if (offsets.nonEmpty) offsets else Seq((0, 0L, 0L))).toDF("_pid", "_offn", "_offt")
    val w = Window.partitionBy("_pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .withColumn("_rn", row_number().over(Window.partitionBy("_pid").orderBy(sortCols: _*)))
      .withColumn("_ct", sum("n_tokens").over(w))
      .join(broadcast(offDf), "_pid")
      .withColumn("ord", col("_offn") + col("_rn"))
      .withColumn("cum_tokens", col("_offt") + col("_ct"))
      .drop("_pid", "_rn", "_ct", "_offn", "_offt")
  }
}
