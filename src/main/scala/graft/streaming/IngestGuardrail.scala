package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-batch ingest drift guardrail: compare each micro-batch's category
  * mix against a PERSISTED reference profile and surface an event when
  * the mix shifts beyond a threshold — the "does today's data look like
  * yesterday's?" check run where it belongs, inside the ingest path
  * ([[StreamingIngest]] invokes it per batch when configured).
  *
  * The profile is bin COUNTS, not rows (at 100 TB the reference corpus
  * is not re-scanned per batch): build it once with [[writeProfile]],
  * and each batch pays one |bins|-sized aggregation plus a broadcast
  * join against the profile. The comparison arithmetic is
  * [[EventStreams.windowDrift]] — the SAME integer-ppm/TVD definitions
  * as every other drift surface (hash-gated by q_window_drift), so the
  * guardrail cannot diverge from the monitoring queries.
  *
  * `tvd2_ppm` is 2e6 x the total-variation distance between the batch
  * and reference category distributions: 0 = identical, 2e6 = disjoint.
  * The default threshold 200000 fires at TVD 0.10.
  */
object IngestGuardrail {

  /** One fired guardrail check. `worstCategory` is the bin with the
    * largest proportion shift (`worstAbsPpmDiff` ppm).
    */
  final case class DriftReport(
      batchId: Long,
      tvd2Ppm: Long,
      worstCategory: String,
      worstAbsPpmDiff: Long
  )

  /** Canonical text-length binning for the ingest guardrail: 16 bins of
    * 512 chars, top bin open-ended. Coarse on purpose — the guardrail
    * watches the MIX, not individual documents.
    */
  def lengthBin(textCol: Column): Column =
    least(floor(length(textCol) / lit(512)), lit(15L)).cast("long")

  /** Aggregate a corpus into a reference profile `(category, n)` and
    * persist it (a |bins|-row parquet — cheap to write, broadcast on
    * read). Run at profile-refresh cadence, not per batch.
    */
  def writeProfile(corpus: DataFrame, category: Column, path: String): Unit =
    // sibling lease: the profile's root IS the parquet dataset, and the
    // overwrite deletes the root wholesale (an in-root lock would be
    // erased by the very verb it protects); two writers refreshing the
    // same reference profile concurrently would interleave undetected
    graft.sources.StoreLease.withLease(path, "write-profile", sibling = true) {
      corpus
        .select(category.as("category"))
        .groupBy("category")
        .agg(count(lit(1)).as("n"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }

  /** Compare one batch's category mix against the reference profile.
    * Returns the report when `tvd2_ppm >= thresholdTvd2Ppm`, None when
    * the batch looks like the reference. The collect is bounded by the
    * bin alphabet (the profile's own size).
    */
  def check(
      batch: DataFrame,
      category: Column,
      reference: DataFrame,
      thresholdTvd2Ppm: Long,
      batchId: Long
  ): Option[DriftReport] =
    checkCounts(
      batch.select(category.as("category")).groupBy("category").agg(count(lit(1)).as("n")),
      reference, thresholdTvd2Ppm, batchId)

  /** [[check]] over PRE-AGGREGATED `(category, n)` batch counts — the
    * form [[StreamingIngest]] uses so the same tiny frame feeds both the
    * drift comparison and the `guardrail_observations` ledger that
    * [[refreshProfile]] rebuilds from.
    */
  def checkCounts(
      counts: DataFrame,
      reference: DataFrame,
      thresholdTvd2Ppm: Long,
      batchId: Long
  ): Option[DriftReport] = {
    val rows = EventStreams.windowDrift(
      counts.withColumn("window_start", lit(batchId)), reference, "category", "n").collect()
    def longAt(r: org.apache.spark.sql.Row, name: String): Long = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) 0L else r.getLong(i)
    }
    if (rows.isEmpty) None
    else {
      val tvd2 = longAt(rows.head, "tvd2_ppm")
      if (tvd2 < thresholdTvd2Ppm) None
      else {
        val worst = rows.maxBy(longAt(_, "abs_ppm_diff"))
        Some(DriftReport(
          batchId,
          tvd2,
          String.valueOf(worst.get(worst.fieldIndex("category"))),
          longAt(worst, "abs_ppm_diff")))
      }
    }
  }

  /** Rebuild the reference profile from the `lastN` most recent observed
    * batches — the refresh that stops a benign mix shift from alarming
    * forever (a frozen day-0 profile turns every seasonal drift into a
    * permanent alarm). `observations` is the `guardrail_observations`
    * table [[StreamingIngest]] appends per checked batch
    * `(batch_key, category, n, drifted, observed_at)`.
    *
    * By default only HEALTHY (non-drifted) batches contribute — the
    * profile follows the accepted mix under gradual shift. Pass
    * `includeDrifted = true` for the step-change adjudication: an
    * operator has decided the new mix is the new normal, so the very
    * batches that alarmed become the reference. Crash-replayed batches
    * can append duplicate observation rows; they collapse by
    * (batch_key, category) before aggregation. Run at refresh cadence
    * with the stream stopped (the profile path is read per batch).
    */
  def refreshProfile(
      observations: DataFrame,
      path: String,
      lastN: Int,
      includeDrifted: Boolean = false
  ): Unit = {
    require(lastN >= 1, s"refreshProfile: lastN must be >= 1, got $lastN")
    val eligible =
      (if (includeDrifted) observations else observations.where(col("drifted") === false))
        .dropDuplicates("batch_key", "category")
    // Recency cut. batch_key is the string "runToken#batchId", so a bare
    // string tie-break is lexicographic ("#9" would outrank "#10" when
    // observed_at timestamps tie within one fast run) — parse the NUMERIC
    // batch ordinal out of the last '#' segment and break ties on it.
    // (Parsing, not a new ledger column: existing guardrail_observations
    // tables keep one homogeneous schema and still order correctly.)
    val recent = eligible
      .groupBy("batch_key").agg(max("observed_at").as("_at"))
      .withColumn("_ord", element_at(split(col("batch_key"), "#"), -1).cast("long"))
      .orderBy(desc("_at"), desc("_ord"), desc("batch_key")).limit(lastN)
      .select("batch_key")
    val profile = eligible
      .join(broadcast(recent), Seq("batch_key"), "left_semi")
      .groupBy("category").agg(sum("n").as("n"))
      // the write target is not in this plan's lineage (observations live
      // in their own table), but pin anyway: a zero-row profile write from
      // a mis-filtered ledger must fail loudly here, not at next check
      .localCheckpoint()
    require(profile.count() > 0,
      s"refreshProfile: no eligible observations (lastN=$lastN, includeDrifted=$includeDrifted) — refusing to write an empty profile")
    graft.sources.StoreLease.withLease(path, "refresh-profile", sibling = true) {
      profile.coalesce(1).write.mode("overwrite").parquet(path)
    }
  }
}
