package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time streaming operators: watermarked per-window sums and
  * sketches over a stream, and the batch drift readouts over their sinks.
  *
  * The reference has no streaming runtime (SURVEY.md §2.11) — these are the
  * engine's forward-looking stream surface, sharing their arithmetic with
  * the batch operators ([[graft.operators.DriftMonitor]],
  * [[graft.operators.Sketches]]) so batch backfill and streaming produce
  * the same tables.
  *
  * Scale notes: the watermark bounds state (no unbounded window buffers);
  * each aggregation shuffles once on its grouping key.
  */
object EventStreams {

  /** Drift readout over per-window category counts
    * `(window_start, category, n)`, from a streaming sink or a batch
    * backfill: every closed window's category mix against a static
    * REFERENCE distribution `(category, n)` — yesterday's mix, a golden
    * profile, or a long-run average. Per (window, category):
    * observed/reference proportions in ppm (integer floor division, the
    * [[graft.operators.DriftMonitor]] arithmetic), their absolute
    * difference, and `tvd2_ppm` = the window's summed |Δppm| (2e6 x the
    * window's total-variation distance — alert when it crosses a
    * threshold). Categories in the reference but absent from a window
    * report n=0; NOVEL categories absent from the reference report
    * ref_n=0 — both directions of "the mix changed" surface as rows.
    *
    * Scale shape: the reference broadcasts against the bounded
    * distinct-window list; per-window totals and the TVD sum are
    * windows over <= |categories| rows per window partition.
    */
  def windowDrift(
      counts: DataFrame,
      reference: DataFrame,
      refCatCol: String,
      refNCol: String
  ): DataFrame = {
    val ref = reference.select(col(refCatCol).as("category"), col(refNCol).cast("long").as("ref_n"))
    val wins = counts.select("window_start").distinct()
    // the observed side re-aliases every column: wins derives from counts,
    // and a full join straight back onto counts would carry conflicting
    // attribute references into the same plan
    val obs = counts.select(
      col("window_start").as("_w"),
      col("category").as("_c"),
      col("n").cast("long").as("_n"))
    val full = wins
      .crossJoin(broadcast(ref))
      .join(obs, col("window_start") === col("_w") && col("category") === col("_c"), "full")
      .select(
        coalesce(col("window_start"), col("_w")).as("window_start"),
        coalesce(col("category"), col("_c")).as("category"),
        coalesce(col("_n"), lit(0L)).as("n"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"))
    val perWin = org.apache.spark.sql.expressions.Window.partitionBy("window_start")
    full
      .withColumn("tot_n", sum(col("n")).over(perWin))
      .withColumn("ref_tot", sum(col("ref_n")).over(perWin))
      // the ONE shared proportion definition (DriftMonitor.ppm) — batch
      // and streaming drift must not hand-maintain diverging arithmetic
      .withColumn("ppm_obs", graft.operators.DriftMonitor.ppm("n", "tot_n"))
      .withColumn("ppm_ref", graft.operators.DriftMonitor.ppm("ref_n", "ref_tot"))
      .withColumn("abs_ppm_diff", abs(col("ppm_obs") - col("ppm_ref")))
      .withColumn("tvd2_ppm", sum(col("abs_ppm_diff")).over(perWin))
      .select("window_start", "category", "n", "ref_n",
        "ppm_obs", "ppm_ref", "abs_ppm_diff", "tvd2_ppm")
  }

  /** Streaming EMBEDDING drift, stream side: watermarked per-window
    * quantized per-dimension component sums over a vector column — the
    * vector half of the drift matrix ([[windowDrift]] reads the
    * categorical half). Same quantization contract as
    * [[graft.operators.DriftMonitor.embeddingDrift]]: components map to
    * `floor(x * scale)` longs (exact integer sums), null and
    * non-finite vectors are EXCLUDED. Append mode — a window's sums
    * emit once the watermark closes it; aggregation state is bounded by
    * open windows x dims.
    */
  def windowedVectorSums(
      stream: DataFrame,
      tsCol: String,
      vecCol: String,
      windowLen: String = "1 hour",
      lateness: String = "10 minutes",
      scale: Long = 1000L
  ): DataFrame = {
    require(scale >= 1L, s"windowedVectorSums: scale must be >= 1, got $scale")
    val nonFinite = exists(
      col(vecCol),
      x => isnan(x.cast("double")) || abs(x.cast("double")) === lit(Double.PositiveInfinity))
    stream
      .withWatermark(tsCol, lateness)
      .where(col(vecCol).isNotNull && !nonFinite)
      .select(
        col(tsCol).as("ts"),
        posexplode(transform(
          col(vecCol),
          x => floor(x.cast("double") * lit(scale.toDouble)).cast("long"))))
      .select(col("ts"), (col("pos") + 1).cast("long").as("dim"), col("col").as("qv"))
      .groupBy(window(col("ts"), windowLen), col("dim"))
      .agg(count(lit(1)).as("cnt"), sum(col("qv")).as("qsum"))
      .select(col("window.start").as("window_start"), col("dim"), col("cnt"), col("qsum"))
  }

  /** Batch drift readout over a [[windowedVectorSums]] sink: every
    * closed window's per-dimension centroid against a static REFERENCE
    * sums table `(dim, cnt, qsum)` — yesterday's windows aggregated, or
    * a golden profile built by the same quantization. Output per
    * (window, dim): the window's and reference's counts/sums plus the
    * exact `shift_milliq` from [[graft.operators.DriftMonitor
    * .shiftFromSums]] — ONE shared arithmetic for batch and streaming
    * embedding drift. The reference broadcasts (it is dims-sized).
    */
  def vectorWindowDrift(
      sums: DataFrame,
      reference: DataFrame,
      refDimCol: String,
      refCntCol: String,
      refSumCol: String
  ): DataFrame = {
    val ref = reference.select(
      col(refDimCol).as("dim"),
      col(refCntCol).cast("long").as("cnt_b"),
      col(refSumCol).cast("long").as("sum_b"))
    graft.operators.DriftMonitor.shiftFromSums(
      sums
        .select(col("window_start"), col("dim"),
          col("cnt").as("cnt_a"), col("qsum").as("sum_a"))
        .join(broadcast(ref), Seq("dim")))
      .select("window_start", "dim", "cnt_a", "cnt_b", "sum_a", "sum_b",
        "shift_milliq", "abs_shift_milliq")
  }

  /** Streaming distinct-count sketch: per-window HyperLogLog registers
    * over `valueCol` — `(window_start, idx, r)` through the REAL
    * watermarked streaming aggregation. MAX is associative and monotone,
    * so registers fold incrementally under append mode with state
    * bounded by open windows x 2^p (never by distinct values — the
    * reason this streams where exact distinct or KMV's distinct prepass
    * cannot). The sink is the mergeable artifact: windows roll up to
    * days, and shards union, by a bucket-wise MAX per `idx`; read
    * estimates batch-side with [[windowedHllEstimate]]. Same register
    * math as the batch sketch ([[graft.operators.Sketches.hllRegisters]]),
    * so batch == streaming by construction.
    */
  def windowedHllRegisters(
      stream: DataFrame,
      tsCol: String,
      valueCol: String,
      windowLen: String = "1 hour",
      lateness: String = "10 minutes",
      p: Int = 12
  ): DataFrame = {
    val (idx, rank) = graft.operators.Sketches.hllIdxRank(col(valueCol), p)
    stream
      .withWatermark(tsCol, lateness)
      .where(col(valueCol).isNotNull)
      .select(col(tsCol).as("ts"), idx.as("idx"), rank.as("r"))
      .groupBy(window(col("ts"), windowLen), col("idx"))
      .agg(max("r").as("r"))
      .select(col("window.start").as("window_start"), col("idx"), col("r"))
  }

  /** Batch estimate readout over a [[windowedHllRegisters]] sink: one
    * `(window_start, n_zero, sum_scaled, hll_estimate)` row per closed
    * window — [[graft.operators.Sketches.hllEstimateBy]] with the window
    * as the group.
    */
  def windowedHllEstimate(registers: DataFrame, p: Int = 12): DataFrame =
    graft.operators.Sketches.hllEstimateBy(registers, Seq("window_start"), p)
}
