package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion of two ranked result lists — the reference's
  * hybrid search (reference: src/load/lancedb_store.py:154-190, design at
  * plans/etl-pipeline-plan.md:1117-1129): rank the vector hits and the FTS
  * hits independently, score each doc 1/(rrfK + rank) per list it appears
  * in, sum, re-rank.
  *
  * Both inputs are top-k lists (tiny: k <= 100), so the window rank and the
  * full-outer join are driver-insignificant regardless of corpus size — all
  * the heavy lifting happened in the upstream searches.
  */
object HybridSearch {

  /** Fuse two (id, score) lists by RRF. `tieBreakAsc` orders equal fused
    * scores deterministically. Every other column both lists carry rides
    * along, taken from whichever list holds the id, so lists that carry
    * their rows' payload need no join to fetch it after fusion.
    */
  def rrf(
      byVector: DataFrame,
      byKeyword: DataFrame,
      idCol: String,
      scoreCol: String,
      k: Int,
      rrfK: Int = 60
  ): DataFrame = {
    // Deliberately single-partition: inputs are bounded top-k lists
    // (k <= 100), so this is NOT the unbounded-global-window anti-pattern.
    // (A constant partitionBy key doesn't help — Catalyst folds literals
    // out of the partition spec and WindowExec still warns.)
    val wV = Window.orderBy(desc(scoreCol), col(idCol))
    val payload = byVector.columns.filter(c =>
      byKeyword.columns.contains(c) && !Set(idCol, scoreCol, "id", "rank_vec", "rank_kw", "rrf_score")(c))
    def ranked(list: DataFrame, rank: String) =
      list.select(col(idCol) +: col(scoreCol) +: payload.map(col): _*)
        .withColumn(rank, row_number().over(wV))
        .select(col(idCol).as("id") +: col(rank) +: payload.map(c => col(c).as(s"${rank}_$c")): _*)

    ranked(byVector, "rank_vec")
      .join(ranked(byKeyword, "rank_kw"), Seq("id"), "full_outer")
      .withColumn(
        "rrf_score",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_vec")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_kw")), lit(0.0))
      )
      .select(Seq(col("id").as(idCol), col("rank_vec"), col("rank_kw"), col("rrf_score")) ++
        payload.map(c => coalesce(col(s"rank_vec_$c"), col(s"rank_kw_$c")).as(c)): _*)
      .orderBy(desc("rrf_score"), col(idCol))
      .limit(k)
  }
}
