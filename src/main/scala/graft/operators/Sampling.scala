package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines: corpus mixing
  * (keep X% of stratum A, Y% of stratum B) and train/test splits that are
  * REPRODUCIBLE — membership depends only on the row id, never on
  * partitioning, task retries, or row order. `df.sample()` can't promise
  * that across re-runs and engines; a content-hash bucket can.
  *
  * The bucket is derived from md5 of the id (first 6 hex nibbles as an
  * integer, mod 100), so any engine with md5 computes the identical
  * membership — the DuckDB oracle checks it exactly. Pure column algebra:
  * a narrow filter that fuses into the scan, no shuffle, no RNG state.
  */
object Sampling {

  /** Pseudo-uniform bucket in [0, 100) from md5(id) — portable: nibble
    * values via ascii arithmetic ('0'-'9' -> 0-9, 'a'-'f' -> 10-15), no
    * engine-specific hash. ~16.7M distinct 6-nibble values spread evenly
    * mod 100.
    */
  def hashBucket(id: Column): Column =
    // md5 bound once (TextFunctions.bindOnce): this tree lands verbatim
    // inside WHERE predicates, and FilterExec does no subexpression
    // elimination — unbound, every scanned row would pay six md5
    // computations instead of one
    graft.functions.TextFunctions.bindOnce(
      md5(id.cast("string")),
      h =>
        (1 to 6)
          .map { k =>
            val c = ascii(substring(h, k, 1))
            when(c >= 97, c - 87).otherwise(c - 48) * lit(1 << ((6 - k) * 4))
          }
          .reduce(_ + _) % 100
    )

  /** Keep rows of each stratum with probability `fractions(stratum)`
    * (default `fallback` for unlisted strata), deterministically in the
    * row id. 0.0 drops the stratum, 1.0 keeps it whole.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      fractions: Map[String, Double],
      fallback: Double = 0.0
  ): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    require(fallback >= 0.0 && fallback <= 1.0, "fallback must be in [0,1]")
    val pct = fractions.foldLeft(lit(fallback * 100): Column) { case (acc, (s, f)) =>
      when(col(stratumCol) === s, lit(f * 100)).otherwise(acc)
    }
    df.where(hashBucket(col(idCol)) < pct)
  }

  /** Attach a train/validation/test split column: bucket < trainPct ->
    * "train", < trainPct+valPct -> "val", else "test". Deterministic in
    * the id, so document and derived-chunk rows can be split consistently
    * by splitting on the parent document id.
    */
  def withSplit(
      df: DataFrame,
      idCol: String,
      trainPct: Int = 80,
      valPct: Int = 10,
      outCol: String = "split"
  ): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split: train=$trainPct val=$valPct")
    val b = hashBucket(col(idCol))
    df.withColumn(
      outCol,
      when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
    )
  }

  /** Weighted Bernoulli sampling: keep each row independently with
    * probability `weight * rate` (clamped at 1) — importance sampling for
    * corpus mixing, e.g. upweighting long or high-quality documents. The
    * coin is the row id's 32-bit md5 hash compared against the weight in
    * PURE INTEGER arithmetic (`hash * scale < weight * rate * scale * 2^32`
    * rearranged to avoid division), so membership is deterministic,
    * partition-independent, identical across engines — exactly
    * oracle-checkable, unlike `ln`-based A-ES keys whose libm rounding
    * differs per platform. Narrow filter, fuses into the scan.
    *
    * `weightCol` must be a non-negative integral column (token counts,
    * byte sizes...); `rate` is given as `rateNum / rateDen` to stay in
    * integers end to end.
    */
  def weightedBernoulli(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      rateNum: Long,
      rateDen: Long
  ): DataFrame = {
    require(rateNum > 0 && rateDen > 0, s"rate must be positive, got $rateNum/$rateDen")
    // P(keep) = min(1, w * rateNum / rateDen); hash32 uniform on [0, 2^32)
    // keep  <=>  hash32 * rateDen < w * rateNum * 2^32
    // The right side is decimal(38,0): byte-size weights near 2^31 would
    // silently wrap a Long product (and diverge from the oracle, whose
    // checked arithmetic errors instead); decimal multiply is exact to
    // 1e38 — far beyond any (weight x rate) this can see.
    val h = Sketches.md5Hash32(col(idCol))
    val threshold =
      col(weightCol).cast("decimal(38,0)") * lit(rateNum) * lit(4294967296L)
    df.where(h.cast("decimal(38,0)") * lit(rateDen) < threshold)
  }

  /** Epoch materialization for mixture weighting: repeat each document
    * according to its domain's repeat factor — the Pile/LLaMA-style
    * "web x1.0, books x2.4, code x0.5" upsampling, materialized as
    * actual training rows.
    *
    * Factors are PER-MILLE integers (2400 = 2.4 epochs). Every doc gets
    * `f div 1000` whole copies; the fractional remainder is a
    * deterministic per-id Bernoulli (extra copy iff
    * `hash32(id) * 1000 < (f mod 1000) * 2^32` — the exact-integer
    * [[weightedBernoulli]] trick), so realized domain sizes hit the
    * target in expectation with zero RNG state and full partition/engine
    * reproducibility. Factor 0 drops the domain.
    *
    * Scale shape: a narrow per-row explode that fuses into the scan — no
    * shuffle, no driver state; output size is the mixture-weighted corpus
    * by construction. Compose with [[TrainingOrder.shuffled]] downstream
    * (copies of a doc then scatter across shards: distinct (id, epoch)
    * pairs get distinct shuffle keys if the caller keys on both).
    *
    * Returns input columns + `epoch` (0-based copy index, BIGINT).
    */
  def epochRepeat(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      factorsPerMille: Map[String, Long],
      fallbackPerMille: Long = 1000L
  ): DataFrame = {
    require(factorsPerMille.values.forall(_ >= 0) && fallbackPerMille >= 0,
      "repeat factors must be non-negative")
    require(!df.columns.contains("_copies") && !df.columns.contains("epoch"),
      "df must not contain reserved/output columns _copies/epoch")
    val f = coalesce(
      element_at(typedlit(factorsPerMille), col(domainCol)),
      lit(fallbackPerMille))
    val h = Sketches.md5Hash32(col(idCol))
    val fl = f.cast("long")
    val copies = floor(fl / 1000L).cast("long") +
      when(h * 1000L < (fl % 1000L) * 4294967296L, 1L).otherwise(0L)
    df.withColumn("_copies", copies)
      // sequence(0, -1) would generate a DESCENDING [0, -1] — guard the
      // zero-copy case to an empty array so explode drops the row
      .withColumn("epoch",
        explode(when(col("_copies") > 0, sequence(lit(0L), col("_copies") - 1))
          .otherwise(array().cast("array<bigint>"))))
      .drop("_copies")
  }

  /** Mixture balancing: EXACTLY `min(perStratum, n_s)` rows from every
    * stratum — the "rebalance a skew-mixed corpus to uniform domain
    * weights" step. Membership = the `perStratum` smallest (hash32(id),
    * id) rows per stratum, so the pick is a uniform without-replacement
    * sample that is deterministic across partitionings, retries, and
    * engines (same reasoning as [[hashBucket]]), AND hits the target
    * count exactly — a rate-based Bernoulli only hits it in expectation.
    *
    * Scale shape: one shuffle on the stratum key, then per-stratum sort —
    * the standard per-group window. For a stratum holding a dominant
    * share of 100 TB, prefilter first (`weightedBernoulli` at rate
    * ~1.2 * perStratum / count_s, then exact-rank the survivors): the
    * window then sorts only ~1.2x the target instead of the full stratum.
    */
  def balanceStrata(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      perStratum: Int
  ): DataFrame = {
    require(perStratum >= 1, s"need perStratum >= 1, got $perStratum")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(Sketches.md5Hash32(col(idCol)), col(idCol))
    df.withColumn("rn_balance", row_number().over(win))
      .where(col("rn_balance") <= perStratum)
      .drop("rn_balance")
  }

  /** One-pass keep-accounting readout of [[balanceStrata]] (r18
    * optimization): per stratum, the row count, how many rows the
    * `perStratum` cap keeps, and the sum of `sumCol` over the kept rows
    * — exactly the numbers `df.groupBy(stratum).count` joined against
    * `balanceStrata(df).groupBy(stratum).agg(count, sum)` produces, but
    * in ONE pass over `df` instead of two (the join form re-executes
    * the whole upstream plan — classify/assign — per branch; measured
    * 2× the classifier pass on q_domain_balance) and with the groupBy
    * reusing the window's stratum partitioning (no second exchange).
    * Selection order is [[balanceStrata]]'s: (hash32(id), id) rank.
    * Non-kept rows contribute 0 to `kept_sum`, matching the SUM(CASE
    * WHEN rn <= cap THEN x ELSE 0 END) oracle form.
    */
  def strataKeepStats(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      perStratum: Int,
      sumCol: String
  ): DataFrame = {
    require(perStratum >= 1, s"need perStratum >= 1, got $perStratum")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(Sketches.md5Hash32(col(idCol)), col(idCol))
    df.withColumn("rn_balance", row_number().over(win))
      .groupBy(stratumCol)
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("rn_balance") <= perStratum, 1L).otherwise(0L)).as("kept"),
        sum(when(col("rn_balance") <= perStratum, col(sumCol)).otherwise(0L))
          .as("kept_sum"))
  }

  /** Temperature-based mixture resampling at α = 1/2 — the multilingual /
    * multi-source pre-training recipe (sample stratum s proportionally to
    * n_s^α instead of n_s, flattening dominant sources while keeping rare
    * ones whole). Downsample-only: the smallest stratum keeps rate 1 and
    * every other stratum keeps rate sqrt(n_min / n_s), so the surviving
    * allocation is ∝ sqrt(n_s).
    *
    * The Bernoulli trial is EXACT INTEGER arithmetic — no sqrt, no
    * floating point: keep row i of stratum s  ⟺
    * `hash32(id_i)² * n_s < n_min * 2^64`
    * (squaring both sides of hash/2^32 < sqrt(n_min/n_s); decimal(38,0)
    * products, exact for n_s < ~5e18). Deterministic in the row id —
    * partition-independent, retry-safe, engine-portable, same reasoning
    * as [[hashBucket]]/[[weightedBernoulli]].
    *
    * Scale shape: one count aggregation over the stratum key (tiny
    * result, broadcast back) + a 1-row broadcast minimum; the trial
    * itself is a scan-side filter — no shuffle of the data rows.
    */
  def temperatureSample(
      df: DataFrame,
      stratumCol: String,
      idCol: String
  ): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_ts_n"))
    val minN = counts.agg(min("_ts_n").as("_ts_min"))
    val two64 = lit("18446744073709551616").cast("decimal(38,0)")
    val keep = graft.functions.TextFunctions.bindOnce(
      Sketches.md5Hash32(col(idCol)).cast("decimal(38,0)"),
      h => h * h * col("_ts_n").cast("decimal(38,0)") < col("_ts_min").cast("decimal(38,0)") * two64
    )
    df.join(broadcast(counts), stratumCol)
      .crossJoin(broadcast(minN))
      .where(keep)
      .drop("_ts_n", "_ts_min")
  }

  /** Deterministic uniform negative sampling — the contrastive-training
    * set constructor: for every anchor row, `k` pseudo-random partner
    * ids drawn uniformly from the OTHER rows, reproducible across
    * engines, partitionings, and retries (no RNG state; the draw is md5
    * arithmetic on (id, j)).
    *
    * Draw j for anchor a: `target = hash32(id_a # j) mod (N-1)`, then
    * targets at or past a's own position shift up by one — a uniform
    * draw over the N-1 non-self positions. Positions come from the
    * DISTRIBUTED global rank over `idCol` order ([[Ranks.withGlobalRank]],
    * never an unpartitioned window's single-task sort). Returns (anchor,
    * j, negative).
    *
    * Scale shape: the rank table is (id, rank) only; the k-fold explode
    * carries (anchor rank, j, target rank) and equi-joins back on the
    * uniform rank key. Two row-sized shuffles + a 1-row broadcast count
    * — no quadratics anywhere.
    */
  def negativePairs(
      df: DataFrame,
      idCol: String,
      k: Int,
      partitions: Int = 0
  ): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val (ranked, n) =
      Ranks.withGlobalRank(df.select(col(idCol).as("_np_id")), Seq(col("_np_id")), "_np_rk", partitions)
    require(n >= 2, s"need at least 2 rows, got $n")
    // 0-based global position in id order
    val ranks = ranked.select(col("_np_id"), (col("_np_rk") - 1L).as("_np_pos"))
    val draws = ranks
      .select(
        col("_np_id").as("anchor"), col("_np_pos").as("_np_apos"),
        explode(sequence(lit(1), lit(k))).as("j")
      )
      // 60-bit draw: a 32-bit hash mod (n-1) would strand every position
      // >= 2^32 at 100 TB corpus sizes (and bias low positions as n
      // approaches 2^32); 60 bits keep the draw uniform to n ~ 10^14
      .withColumn(
        "_np_t",
        Sketches.md5Hash60(concat_ws("#", col("anchor"), col("j"))) % (n - 1L)
      )
      // skip-self shift: targets >= own position move up one
      .withColumn("_np_tpos", when(col("_np_t") >= col("_np_apos"), col("_np_t") + 1L).otherwise(col("_np_t")))
    draws
      .join(ranks.select(col("_np_id").as("negative"), col("_np_pos")), col("_np_tpos") === col("_np_pos"))
      .select(col("anchor"), col("j").cast("long").as("j"), col("negative"))
  }
}
