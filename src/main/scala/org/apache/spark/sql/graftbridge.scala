package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge into `private[sql]` conversion helpers so graft's custom Catalyst
  * expressions can be exposed as user-facing `Column`s on Spark 4's
  * split Column API (sql-api vs classic), and so a checkpoint can keep
  * the partitioning its rows were written with.
  */
object graftbridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `pinned`, a checkpoint of `source` taken after `source` ran, stated
    * with the hash partitioning that `source`'s executed plan delivered.
    * A checkpoint of an adaptive plan reports `UnknownPartitioning`, so a
    * query over it re-shuffles rows that already sit by key; with the
    * partitioning stated, a window or aggregate on that key plans no
    * Exchange. `pinned` is returned as it is when the final plan's
    * partitioning is not a hash partitioning over exactly the pinned
    * RDD's partitions.
    */
  def keepHashPartitioning(pinned: DataFrame, source: DataFrame): DataFrame = {
    val executed = source.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def leaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => leaf(c.partitionings.head)
      case other => other
    }
    (pinned.queryExecution.analyzed, leaf(executed.outputPartitioning)) match {
      case (r: LogicalRDD, h: HashPartitioning)
          if h.numPartitions == r.rdd.getNumPartitions && h.references.subsetOf(r.outputSet) =>
        val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          LogicalRDD(r.output, r.rdd, h, r.outputOrdering, r.isStreaming)(session, Some(r.stats), None))
      case _ => pinned
    }
  }
}
