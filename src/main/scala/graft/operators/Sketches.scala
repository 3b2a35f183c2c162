package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distinct-count sketches for corpus accounting at 100 TB — vocabulary
  * sizes, unique-url / unique-shingle counts, per-shard cardinalities.
  *
  * KMV (k-minimum-values): hash every value to a uniform 32-bit integer,
  * keep the k smallest distinct hashes; the k-th smallest, normalized to
  * (0,1], estimates density, so distinct ~= (k-1) / max_norm. The sketch
  * crosses the shuffle as at most k longs per partition
  * (TakeOrderedAndProject — each partition pre-truncates to its local
  * k), giving a fixed-size answer no matter the input scale, and unlike
  * HLL the whole computation is plain deterministic column algebra —
  * portable to any engine, so it is exactly oracle-checkable.
  *
  * Spark's own `approx_count_distinct` (HyperLogLog++) remains the
  * one-liner alternative; KMV is the one you can cross-check.
  */
object Sketches {

  /** Uniform 32-bit hash from the first 8 md5 nibbles (portable: the
    * DuckDB oracle computes the identical value with ascii-nibble
    * arithmetic, OracleSql.md5NibbleIntSql). Spark side uses one
    * base-16 `conv` instead of eight substring+ascii terms — same value,
    * a third of the expression tree per row.
    */
  private[graft] def md5Hash32(value: Column): Column =
    conv(substring(md5(value.cast("string")), 1, 8), 16, 10).cast("long")

  /** 60-bit variant (15 nibbles — positive in a signed long) for draws
    * over a POSITION SPACE that can exceed 2^32 at corpus scale: a 32-bit
    * draw modulo n would never reach positions >= 2^32 and carries modulo
    * bias as n approaches 2^32. Oracle twin: OracleSql.md5NibbleIntSql
    * with n=15.
    */
  private[graft] def md5Hash60(value: Column): Column =
    conv(substring(md5(value.cast("string")), 1, 15), 16, 10).cast("long")

  /** The KMV estimator: exact when fewer than k distinct hashes were
    * observed, else (k-1) / normalized k-th minimum. ONE definition shared
    * by the global and grouped paths — both oracles mirror this exact
    * arithmetic.
    */
  private def kmvEstimate(kUsed: Column, kthHash: Column, k: Int): Column =
    when(kUsed < k, kUsed.cast("double"))
      .otherwise(lit((k - 1).toDouble * 4294967296.0) / kthHash)

  /** KMV distinct-count estimate for `df(valueCol)`. Returns one row:
    * `k_used` (min(k, observed distinct hashes)), `kth_hash` (the k-th
    * smallest 32-bit hash), `kmv_estimate` (estimated distinct count;
    * exact when fewer than k distinct hashes were observed).
    */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val kept = df
      .where(col(valueCol).isNotNull)
      .select(md5Hash32(col(valueCol)).as("h"))
      .distinct()
      .orderBy("h")
      .limit(k)
    kept.agg(
      count(lit(1)).as("k_used"),
      max(col("h")).as("kth_hash")
    ).select(
      col("k_used"),
      col("kth_hash"),
      kmvEstimate(col("k_used"), col("kth_hash"), k).as("kmv_estimate")
    )
  }

  /** Per-group KMV: distinct-count estimate for `valueCol` within each
    * `keys` group over the native bounded-heap aggregate
    * ([[graft.plans.TopKBy]] with score = -hash keeps each group's k
    * smallest hashes). Two shuffles: the prerequisite distinct carries
    * every distinct (key, hash) pair — corpus-cardinality, required
    * because the heap does not dedup — and the heap aggregation itself is
    * k-bounded (at most k longs per (partition, group)). The grouped
    * shape of `approx_count_distinct`, but deterministic and
    * oracle-checkable.
    */
  def kmvDistinctBy(df: DataFrame, keys: Seq[String], valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    require(keys.nonEmpty, "kmvDistinctBy needs grouping keys; use kmvDistinct for the global sketch")
    val keyCols = keys.map(col)
    val hashed = df
      .where(col(valueCol).isNotNull)
      .select(keyCols :+ md5Hash32(col(valueCol)).as("h"): _*)
      .distinct()
    hashed
      .groupBy(keyCols: _*)
      // entries come back as (score, id) structs ordered (score desc,
      // id asc) = hash ascending, so the LAST id is the k-th smallest.
      // (Groups exist only for observed rows, so the heap is never empty
      // and the element_at index is always >= 1.)
      .agg(graft.plans.TopKBy.topKBy((-col("h")).cast("double"), col("h"), k).as("top"))
      .select(
        keyCols ++ Seq(
          size(col("top")).cast("long").as("k_used"),
          element_at(col("top"), size(col("top"))).getField("id").as("kth_hash")
        ): _*
      )
      .withColumn("kmv_estimate", kmvEstimate(col("k_used"), col("kth_hash"), k))
  }

  /** Pairwise content overlap between corpus slices (sources, shards,
    * snapshots) WITHOUT comparing the slices row-by-row: per-group KMV
    * sketches, then the standard KMV Jaccard estimator on every group
    * pair — |{k-min of A ∪ B} ∩ A ∩ B| / k. The contamination-matrix
    * question ("how much does shard X share with shard Y") answered from
    * k longs per group.
    *
    * Scale shape: the only corpus-sized work is the distinct (group,
    * hash) projection feeding the bounded-heap sketch build (identical to
    * [[kmvDistinctBy]]); the pairwise stage is a self-join of the SKETCH
    * table — #groups rows of k longs each — so its nested-loop pairing is
    * sketch-sized, never data-sized. All arithmetic integer fixed-point:
    * deterministic, oracle-exact.
    *
    * Returns (g_a, g_b, k_used, inter_cnt, jaccard_fp) for every unordered
    * group pair (g_a < g_b), jaccard_fp in 1e-6 units.
    */
  def kmvOverlap(df: DataFrame, groupCol: String, valueCol: String, k: Int = 64): DataFrame = {
    require(k >= 2, s"kmv needs k >= 2, got $k")
    val hashed = df
      .where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), md5Hash32(col(valueCol)).as("h"))
      .distinct()
    val sk = hashed
      .groupBy("g")
      // entries ordered (score desc, id asc) = hash ascending
      .agg(graft.plans.TopKBy.topKBy((-col("h")).cast("double"), col("h"), k).as("top"))
      .select(col("g"), transform(col("top"), e => e.getField("id")).as("arr"))
    val a = sk.select(col("g").as("g_a"), col("arr").as("arr_a"))
    val b = sk.select(col("g").as("g_b"), col("arr").as("arr_b"))
    a.join(b, col("g_a") < col("g_b"))
      .select(
        col("g_a"),
        col("g_b"),
        slice(array_sort(array_union(col("arr_a"), col("arr_b"))), 1, k).as("uk"),
        col("arr_a"),
        col("arr_b")
      )
      .select(
        col("g_a"),
        col("g_b"),
        size(col("uk")).cast("long").as("k_used"),
        size(array_intersect(array_intersect(col("uk"), col("arr_a")), col("arr_b")))
          .cast("long")
          .as("inter_cnt")
      )
      .withColumn("jaccard_fp", expr("(inter_cnt * 1000000) div k_used"))
  }

  // ---------------------------------------------------------------- HLL

  /** Number of index bits the HLL family accepts: alpha below uses the
    * asymptotic constant, which is standard for m >= 128 (p >= 7); 16
    * caps the register table at 64k rows.
    */
  private def requireHllP(p: Int): Unit =
    require(p >= 7 && p <= 16, s"hll needs p in [7, 16], got $p")

  /** Column names the HLL register/readout pipeline owns — grouping keys
    * may not collide with them.
    */
  private val HllReserved =
    Set("idx", "r", "touched", "sum_touched", "n_zero", "sum_scaled", "hll_estimate")

  /** HyperLogLog register index + rank for one value: the top `p` bits of
    * the 60-bit md5 hash pick the register, and the rank is the position
    * of the highest set bit in the remaining `60-p` bits counted FROM THE
    * TOP (leading zeros + 1; all-zero remainder = 61-p). Bit length rides
    * `length(bin(x))`, the same portable idiom the LM scorer uses — the
    * oracle reproduces both fields exactly.
    */
  private[graft] def hllIdxRank(value: Column, p: Int): (Column, Column) = {
    val remBits = 60 - p
    val h = md5Hash60(value)
    val idx = shiftright(h, remBits)
    val rem = h % (1L << remBits)
    val rank = when(rem === 0L, lit(remBits + 1L))
      .otherwise(lit(remBits + 1L) - length(bin(rem)).cast("long"))
    (idx, rank)
  }

  /** Bias constant of the raw HLL estimator for m = 2^p registers
    * (Flajolet et al. 2007, m >= 128). The full numerator
    * `alpha * m^2 * 2^(61-p)` is folded into ONE double literal so the
    * estimate is a single IEEE division away from the integer register
    * sum — the literal round-trips through its decimal printout, so the
    * oracle's copy is bit-identical.
    */
  private[graft] def hllAlphaNumerator(p: Int): Double = {
    val m = (1L << p).toDouble
    (0.7213 / (1.0 + 1.079 / m)) * m * m * math.pow(2.0, (61 - p).toDouble)
  }

  /** HyperLogLog register table for `df(valueCol)`: `(idx, r)` with one
    * row per TOUCHED register (max rank wins). This is the persistable /
    * mergeable artifact: at most 2^p rows no matter the input, and the
    * bucket-wise MAX of two tables is the table of the union — per-shard
    * sketches roll up without a second corpus pass.
    *
    * Scale shape vs [[kmvDistinct]]: NO distinct prepass — every input
    * row maps straight to (idx, rank) and the max partially aggregates
    * map-side, so the shuffle carries at most 2^p rows per partition
    * while KMV must first shuffle every distinct (value-hash) once. The
    * trade: KMV's estimate is plain column algebra; HLL needs the
    * register sum below. Both are deterministic md5 arithmetic —
    * exactly oracle-checkable, unlike `approx_count_distinct`'s HLL++.
    */
  def hllRegisters(df: DataFrame, valueCol: String, p: Int = 12): DataFrame = {
    requireHllP(p)
    val (idx, rank) = hllIdxRank(col(valueCol), p)
    df.where(col(valueCol).isNotNull)
      .select(idx.as("idx"), rank.as("r"))
      .groupBy("idx")
      .agg(max("r").as("r"))
  }

  /** The HLL estimate from a register table: one row — `n_zero`
    * (untouched registers), `sum_scaled` (the harmonic-mean denominator
    * `sum over ALL m registers of 2^(61-p-r)`, untouched registers at
    * r=0, kept exact in a long: max term 2^(61-p), m terms, total
    * <= 2^61 for every allowed p), and `hll_estimate` = the one IEEE
    * division `alphaNumerator / sum_scaled` — the RAW estimator, exact
    * and portable but biased high below ~2.5m distincts (it floors near
    * alpha*m); a small-range answer takes the standard linear-counting
    * correction `m * ln(m / n_zero)` driver-side (`ln` is not bit-portable
    * across engines, so it stays off the columnar surface).
    */
  // Shared readout machinery of the three estimate surfaces: the range
  // guard rides the COUNTED column (never null, so count semantics are
  // unchanged — a standalone guarded projection gets column-pruned away
  // because the aggregate never reads idx), and the
  // touched/sum_touched -> n_zero/sum_scaled/hll_estimate algebra lives
  // ONCE so a fix cannot miss a sibling.
  private def hllGuardedIdx(caller: String, p: Int): Column = {
    val m = 1L << p
    val maxR = (61 - p).toLong
    when(col("idx") < 0 || col("idx") >= m || col("r") < 1 || col("r") > maxR,
      raise_error(concat(
        lit(s"$caller: register outside the p=$p range (idx="),
        col("idx"), lit(", r="), col("r"),
        lit(") — sketch built with a different p?"))).cast("long"))
      .otherwise(col("idx"))
  }

  private def hllSumTouched(p: Int): Column =
    coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${(61 - p).toLong} - r AS INT))")), lit(0L))

  private def hllReadout(agged: DataFrame, keyCols: Seq[Column], p: Int): DataFrame = {
    val m = 1L << p
    val maxR = (61 - p).toLong
    agged
      .select(
        keyCols ++ Seq(
          (lit(m) - col("touched")).as("n_zero"),
          (col("sum_touched") + (lit(m) - col("touched")) * lit(1L << maxR)).as("sum_scaled")
        ): _*)
      .withColumn("hll_estimate", lit(hllAlphaNumerator(p)) / col("sum_scaled"))
  }

  def hllEstimate(registers: DataFrame, p: Int): DataFrame = {
    requireHllP(p)
    hllReadout(
      registers.agg(
        count(hllGuardedIdx("hllEstimate", p)).as("touched"),
        hllSumTouched(p).as("sum_touched")),
      Nil, p)
  }

  /** [[hllEstimate]] grouped: one estimate row per `keys` group of a
    * register table that carries key columns (e.g. the
    * `(window_start, idx, r)` sink of
    * [[graft.streaming.EventStreams.windowedHllRegisters]]). Same range
    * guard, same fields per group.
    */
  def hllEstimateBy(registers: DataFrame, keys: Seq[String], p: Int): DataFrame = {
    requireHllP(p)
    require(keys.nonEmpty, "hllEstimateBy needs grouping keys; use hllEstimate for one sketch")
    require(!keys.exists(HllReserved),
      s"grouping keys may not use the reserved names $HllReserved")
    val keyCols = keys.map(col)
    hllReadout(
      registers
        .groupBy(keyCols: _*)
        .agg(
          count(hllGuardedIdx("hllEstimateBy", p)).as("touched"),
          hllSumTouched(p).as("sum_touched")),
      keyCols, p)
  }

  /** One-shot global HLL distinct estimate: [[hllRegisters]] then
    * [[hllEstimate]].
    */
  def hllDistinct(df: DataFrame, valueCol: String, p: Int = 12): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, p), p)

  /** Per-group HLL distinct estimate in ONE corpus pass — the sketch
    * where HLL beats KMV at scale: [[kmvDistinctBy]] must shuffle every
    * distinct (key, hash) pair before its bounded heap, while this maps
    * each row to (keys, idx, rank), partially MAXes map-side, and
    * shuffles at most 2^p rows per (partition, group). Returns one row
    * per observed group: keys, `n_zero`, `sum_scaled`, `hll_estimate`
    * (same fields as [[hllEstimate]]).
    */
  def hllDistinctBy(df: DataFrame, keys: Seq[String], valueCol: String, p: Int = 12): DataFrame = {
    requireHllP(p)
    require(keys.nonEmpty, "hllDistinctBy needs grouping keys; use hllDistinct for the global sketch")
    // internal/output names would silently shadow a same-named key (the
    // assignWith reserved-column convention)
    require(!keys.exists(HllReserved),
      s"grouping keys may not use the reserved names $HllReserved")
    val keyCols = keys.map(col)
    val (idx, rank) = hllIdxRank(col(valueCol), p)
    hllEstimateBy(
      df.where(col(valueCol).isNotNull)
        .select(keyCols :+ idx.as("idx") :+ rank.as("r"): _*)
        .groupBy(keyCols :+ col("idx"): _*)
        .agg(max("r").as("r")),
      keys, p)
  }

  /** Count-min sketch: approximate per-value frequencies in
    * `depth * width` counters no matter how many distinct values exist —
    * the heavy-hitter / frequency-floor sketch for corpora whose exact
    * value histogram would itself be corpus-sized (URLs, shingles,
    * n-grams). Estimates NEVER undercount (min over `depth` independent
    * hash rows only overestimates, by <= 2n/width with probability
    * 1 - (1/2)^depth), and the sketch is mergeable: bucket-wise SUM of
    * two sketches is the sketch of the union — the property that lets
    * per-shard sketches roll up without a second corpus pass.
    *
    * Deterministic (md5-derived row hashes, no RNG), so unlike Spark's
    * native CountMinSketch aggregate this one is exactly reproducible in
    * any SQL engine — the oracle rebuilds the identical counter matrix.
    *
    * Scale shape: one corpus pass; each row emits `depth` (row, bucket)
    * pairs that partially aggregate map-side, so the shuffle carries at
    * most `depth * width` counters per partition. Returns (row, bucket,
    * cnt) — query it with [[countMinEstimate]].
    */
  // The single source of the count-min (row, bucket) hash layout: build
  // and estimate MUST derive buckets identically or point queries read
  // the wrong counters — keeping one definition makes that true by
  // construction (the OracleSql twin mirrors this exact expression).
  private def cmBuckets(value: Column, width: Int, depth: Int): Column = {
    require(width >= 2, s"need width >= 2, got $width")
    require(depth >= 1, s"need depth >= 1, got $depth")
    array((0 until depth).map { r =>
      struct(
        lit(r).as("row"),
        (md5Hash32(concat_ws(":", lit(r), value.cast("string"))) % width).as("bucket")
      )
    }: _*)
  }

  def countMin(df: DataFrame, valueCol: String, width: Int = 256, depth: Int = 4): DataFrame = {
    df.where(col(valueCol).isNotNull)
      .select(explode(cmBuckets(col(valueCol), width, depth)).as("rb"))
      .select(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query a [[countMin]] sketch: the estimated frequency of every
    * key in `keys(keyCol)` = min over hash rows of that key's bucket
    * counter (0 when a bucket was never touched). `width`/`depth` must
    * match the build.
    */
  def countMinEstimate(
      sketch: DataFrame,
      keys: DataFrame,
      keyCol: String,
      width: Int = 256,
      depth: Int = 4
  ): DataFrame = {
    keys
      .select(col(keyCol).as("key"))
      .distinct()
      .select(col("key"), explode(cmBuckets(col("key"), width, depth)).as("rb"))
      .select(col("key"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Per-group [[histogramQuantile]]: the same fixed-bin sketch computed
    * WITHIN each `keys` group in one pass — p50/p95 per event type /
    * language / source, the form production accounting actually needs.
    * The shuffle carries at most `nBins` (group, bin, count) rows per
    * group; the cumulative window runs over each group's <= nBins sketch
    * rows, never the data. Groups with no in-range rows yield no rows
    * (same contract as the global form).
    */
  def histogramQuantileBy(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int,
      quantiles: Seq[Double]
  ): DataFrame = {
    require(keys.nonEmpty, "histogramQuantileBy needs grouping keys; use histogramQuantile")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $quantiles")
    val w = (hi - lo) / nBins
    val spark = df.sparkSession
    import spark.implicits._
    val keyCols = keys.map(col)
    val binned = df
      .where(col(valueCol) >= lo && col(valueCol) < hi)
      .select(keyCols :+
        least(floor((col(valueCol) - lo) / w).cast("long"), lit(nBins - 1L)).as("bin"): _*)
      .groupBy(keyCols :+ col("bin"): _*)
      .agg(count(lit(1)).as("c"))
    val cumWin = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val totWin = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cum = binned
      .withColumn("cum", sum("c").over(cumWin))
      .withColumn("n", sum("c").over(totWin))
    quantiles.toDF("q")
      .crossJoin(cum)
      .where(col("cum") * lit(1.0) >= col("q") * col("n"))
      .groupBy(keyCols :+ col("q"): _*)
      .agg(min("bin").as("bin"), max("n").as("n"))
      .select(keyCols ++ Seq(
        col("q"),
        col("n"),
        col("bin"),
        (lit(lo) + (col("bin") + lit(0.5)) * lit(w)).as("estimate")
      ): _*)
  }

  /** Fixed-histogram quantile sketch: bin `valueCol` into `nBins` equal
    * cells over `[lo, hi)`, then answer each requested quantile with the
    * midpoint of the first bin whose cumulative count reaches `q * n`.
    * The sketch that crosses the shuffle is at most `nBins` (bin, count)
    * rows no matter the input size — the mergeable at-scale shape exact
    * `percentile` (full sort) can't offer — and every step is integer
    * arithmetic plus one IEEE-exact midpoint formula, so the whole thing
    * is portable and exactly oracle-checkable, unlike t-digest/KLL.
    * Error is bounded by the bin width `(hi - lo) / nBins`.
    *
    * Returns one row per quantile — `q`, `n` (total rows in range),
    * `bin` (chosen cell), `estimate` (cell midpoint) — and NO rows when
    * no input value falls inside `[lo, hi)` (there is no quantile of an
    * empty population; callers indexing by q should handle the empty
    * frame).
    */
  def histogramQuantile(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBins: Int,
      quantiles: Seq[Double]
  ): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    require(quantiles.nonEmpty && quantiles.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $quantiles")
    val w = (hi - lo) / nBins
    val spark = df.sparkSession
    import spark.implicits._
    val binned = df
      .where(col(valueCol) >= lo && col(valueCol) < hi)
      .select(least(floor((col(valueCol) - lo) / w).cast("long"), lit(nBins - 1L)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("c"))
    // nBins rows from here on: the cumulative window is over the sketch,
    // not the data
    val win = org.apache.spark.sql.expressions.Window
      .orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binned
      .withColumn("cum", sum("c").over(win))
      .withColumn("n", sum("c").over(
        org.apache.spark.sql.expressions.Window.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    quantiles.toDF("q")
      .crossJoin(cum)
      .where(col("cum") * lit(1.0) >= col("q") * col("n"))
      .groupBy("q")
      .agg(min("bin").as("bin"), max("n").as("n"))
      .select(
        col("q"),
        col("n"),
        col("bin"),
        (lit(lo) + (col("bin") + lit(0.5)) * lit(w)).as("estimate")
      )
      .orderBy("q")
  }
}
