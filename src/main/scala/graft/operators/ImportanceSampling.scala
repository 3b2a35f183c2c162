package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data selection via hashed n-gram importance weights — the DSIR recipe
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every raw-corpus document by how much its hashed
  * n-gram feature distribution looks like a TARGET corpus (the
  * high-quality slice you want more of) relative to the raw corpus
  * itself, then keep the top-scoring documents.
  *
  * Reference scope: the reference pipeline (dabsdamoon/ETL-pdf-pipepline)
  * gates ingest on per-document quality heuristics only
  * (`src/utils/quality_check.py`); distribution-level selection against a
  * target corpus is a beyond-reference capability a pre-training curation
  * pipeline needs.
  *
  * Portability: weights are exact BIGINT fixed-point RATIO weights
  * (scaled probability ratios with add-one smoothing, floor division at
  * every step), so document scores are bit-identical in any engine and
  * under any partitioning — the oracle-checkable path. True DSIR sums
  * LOG-ratios (= log of the product ratio); `ln` is not bit-portable
  * across engines, so only the ratio form is offered.
  *
  * Scale shape (100 TB): gram strings never shuffle — each gram is
  * digested to a 60-bit BIGINT at the scan ([[TextAnalysis.wordGrams]])
  * and reduced mod `buckets` immediately, so the two counting passes
  * shuffle at most `buckets` rows per map task (partial aggregation caps
  * them), and the scoring pass broadcast-joins the ≤ `buckets`-row weight
  * table against the exploded grams before one (id, partial-sum) shuffle.
  * Nothing driver-sided except the two scalar totals, carried as 1-row
  * broadcast cross joins (the TextAnalysis totals pattern).
  *
  * Overflow bound (ANSI-safe): scores stay below
  * `scale * maxBucketCount * scale` per gram; with the default
  * scale=10^4 that caps bucket counts at ~9*10^10 — far above the
  * ~`N_grams / buckets` expected occupancy of any real corpus shard.
  */
object ImportanceSampling {

  /** Hashed n-gram feature buckets of `text`: 60-bit gram digests
    * reduced mod `buckets` (digests are non-negative by construction, so
    * `%` is a true bucket index). One entry per gram POSITION — DSIR
    * features are occurrence counts, not distinct sets.
    */
  def bucketedGrams(text: Column, n: Int, buckets: Int): Column = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    // modulo folded into the digest kernel (r19): the interpreted
    // `transform(..., d => d % buckets)` wrapper was the one non-codegen
    // node left in this projection; values identical (digests >= 0)
    import org.apache.spark.sql.graftbridge
    graftbridge.column(
      graft.plans.WordGramDigests(
        graftbridge.expression(split(Dedup.normalized(text), " ")), n, buckets))
  }

  /** (bucket, cnt) occurrence counts over a corpus slice. Map-side
    * partial aggregation bounds the shuffle at `buckets` rows per task.
    */
  def bucketCounts(df: DataFrame, textCol: String, n: Int, buckets: Int): DataFrame =
    df.select(explode(bucketedGrams(col(textCol), n, buckets)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Per-bucket importance weights, exact BIGINT fixed-point.
    *
    * With add-one smoothing over `buckets` cells, the probability ratio
    * for bucket b is
    * `p_t(b) / p_r(b) = ((ct+1) * (NR+B)) / ((cr+1) * (NT+B))`.
    * To keep intermediates bounded, the corpus-size factor is folded into
    * one pre-computed constant `K = (scale * (NR+B)) div (NT+B)` and the
    * weight is `w(b) = (scale * (ct+1) * K) div ((cr+1) * scale)` —
    * i.e. `scale * ratio`, floor-rounded twice. Only buckets present in
    * the RAW corpus are emitted (a document's grams are by definition in
    * the raw counts, so scoring never misses a bucket).
    *
    * Returns (bucket, w) with w >= 0.
    */
  def ratioWeights(
      raw: DataFrame,
      textCol: String,
      target: DataFrame,
      targetTextCol: String,
      n: Int = 2,
      buckets: Int = 4096,
      scale: Long = 10000L
  ): DataFrame = {
    require(scale >= 1L, s"need scale >= 1, got $scale")
    val cr = bucketCounts(raw, textCol, n, buckets)
    val ct = bucketCounts(target, targetTextCol, n, buckets)
    val totR = cr.agg(coalesce(sum("cnt"), lit(0L)).as("_nr"))
    val totT = ct.agg(coalesce(sum("cnt"), lit(0L)).as("_nt"))
    cr.select(col("bucket"), col("cnt").as("_cr"))
      .join(ct.select(col("bucket").as("_bt"), col("cnt").as("_ct")), col("bucket") === col("_bt"), "left")
      .crossJoin(broadcast(totR))
      .crossJoin(broadcast(totT))
      .select(
        col("bucket"),
        expr(
          s"($scale * (coalesce(_ct, CAST(0 AS BIGINT)) + 1) * " +
            s"(($scale * (_nr + $buckets)) div (_nt + $buckets))) div ((_cr + 1) * $scale)"
        ).as("w")
      )
  }

  /** [[ratioWeights]] for the common case where the target corpus is a
    * SLICE of the raw corpus (a language, a source, a quality tier):
    * both bucket counts come out of ONE gram-digest pass — the raw count
    * is count(*), the target count is a conditional sum on the
    * row-level predicate carried through the explode. Identical output
    * to `ratioWeights(raw, textCol, raw.where(targetPred), textCol, ...)`
    * at half the scan/digest work.
    */
  def ratioWeightsSlice(
      raw: DataFrame,
      textCol: String,
      targetPred: Column,
      n: Int = 2,
      buckets: Int = 4096,
      scale: Long = 10000L
  ): DataFrame = {
    require(scale >= 1L, s"need scale >= 1, got $scale")
    val both = raw
      .select(targetPred.as("_is_t"), explode(bucketedGrams(col(textCol), n, buckets)).as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("_cr"),
        sum(when(col("_is_t"), 1L).otherwise(0L)).as("_ct")
      )
    val tot = both.agg(
      coalesce(sum("_cr"), lit(0L)).as("_nr"),
      coalesce(sum("_ct"), lit(0L)).as("_nt")
    )
    both
      .crossJoin(broadcast(tot))
      .select(
        col("bucket"),
        expr(
          s"($scale * (_ct + 1) * " +
            s"(($scale * (_nr + $buckets)) div (_nt + $buckets))) div ((_cr + 1) * $scale)"
        ).as("w")
      )
  }

  /** Score every `raw` document: sum of its grams' bucket weights
    * (occurrence-weighted). Documents shorter than `n` words score 0.
    * Returns the input columns + `score` (BIGINT).
    *
    * `weights` must be a (bucket, w) frame from [[ratioWeights]] — it is
    * broadcast (≤ `buckets` rows), so the only shuffle is the final
    * (id, partial-sum) aggregation.
    */
  def importanceScores(
      raw: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      n: Int = 2,
      buckets: Int = 4096
  ): DataFrame = {
    require(
      !raw.columns.contains("_imp_score"),
      "raw must not contain reserved column _imp_score"
    )
    val perDoc = raw
      .select(col(idCol).as("_imp_id"), explode(bucketedGrams(col(textCol), n, buckets)).as("bucket"))
      .join(broadcast(weights), "bucket")
      .groupBy("_imp_id")
      .agg(sum("w").as("_imp_score"))
    raw
      .join(perDoc, raw(idCol) === perDoc("_imp_id"), "left")
      .drop("_imp_id")
      .withColumn("score", coalesce(col("_imp_score"), lit(0L)))
      .drop("_imp_score")
  }
}
