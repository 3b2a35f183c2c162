package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact DISTRIBUTED global rank — the building block behind every
  * "position in a total order" operator (training-order shuffle, length
  * bucketing, global ntile). Never an unpartitioned window: a
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY collapses the
  * frame into one task, which is exactly the single-machine sort a 100 TB
  * corpus cannot run.
  *
  * Two passes over a range partitioning:
  *   1. `repartitionByRange` on the sort key (sampled range boundaries,
  *      one full shuffle — the same shuffle any global sort pays), pinned
  *      so both passes see identical partitions;
  *   2. per-partition `row_number` + the partition's offset, looked up
  *      in a literal map of the #partitions-sized cumulative partition
  *      counts (no join, so no job to broadcast it) = exact global rank.
  *
  * The pin's storage is referenced by the returned plan and freed by
  * Spark's ContextCleaner once the caller drops the result.
  */
object Ranks {

  /** Input columns + `rankCol` (BIGINT, 1-based, dense over the frame,
    * total order given tie-free `sortCols`), plus the frame's row count.
    */
  def withGlobalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String = "_rk",
      partitions: Int = 0
  ): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "need at least one sort column")
    val reserved = Seq("_pid", "_rn", rankCol)
    require(!df.columns.exists(reserved.contains),
      s"df must not contain reserved columns ${reserved.mkString("/")}")
    val spark = df.sparkSession
    val nParts =
      if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val ranged = graft.util.Checkpoints.pin(
      df.repartitionByRange(nParts, sortCols: _*)
        .withColumn("_pid", spark_partition_id()))
    val counts = ranged.groupBy("_pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    val offsets = {
      var acc = 0L
      counts.keys.toSeq.sorted.map { pid => val o = (pid, acc); acc += counts(pid); o }
    }
    val localW = Window.partitionBy("_pid").orderBy(sortCols: _*)
    val ranked = ranged
      .withColumn("_rn", row_number().over(localW))
      .withColumn(rankCol, element_at(typedLit(offsets.toMap), col("_pid")) + col("_rn"))
      .drop("_pid", "_rn")
    (ranked, n)
  }
}
