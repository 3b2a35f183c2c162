package graft.util

import org.apache.spark.sql.DataFrame

/** Checkpoint-mode selection for iterative operators (VERDICT r4 #4).
  *
  * Iterative loops ([[graft.operators.GraphOps.pageRankOn]],
  * [[graft.operators.Dedup.nearDupClusters]]) pin each round's result to
  * cut lineage. `localCheckpoint()` stores blocks on executors — fast,
  * but on a real cluster an executor loss mid-iteration makes the blocks
  * unrecoverable and kills the job. The durable alternative is a RELIABLE
  * `checkpoint()` to the SparkContext's checkpoint directory (HDFS/object
  * store at cluster scale), which survives executor loss at the cost of a
  * write per round.
  *
  * Selection is the idiomatic Spark switch: callers that want durability
  * call `spark.sparkContext.setCheckpointDir(...)` once; every iterative
  * operator then checkpoints reliably. With no checkpoint dir set
  * (local[] runs, tests), `localCheckpoint()` is used. Results are
  * identical in both modes — only failure-recovery behavior differs.
  */
object Checkpoints {

  // reliable-mode bookkeeping: rdd id -> checkpoint file path, so
  // release() can delete superseded rounds' FILES too (Spark only cleans
  // checkpoint files itself with referenceTracking.cleanCheckpoints=true,
  // off by default — without this a 50-round build would leave ~50 full
  // table copies in the checkpoint dir)
  private val checkpointFiles = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** Materialize `df` and cut its lineage: reliable `checkpoint()` when a
    * checkpoint dir is configured, `localCheckpoint()` otherwise. Both
    * are eager and both preserve partitioning/ordering via LogicalRDD.
    */
  def pin(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val out = df.checkpoint()
      out.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.getCheckpointFile.foreach(f => checkpointFiles.put(r.rdd.id, f))
      }
      out
    } else df.localCheckpoint()

  /** A long metric an `Observation` took; absent (no rows seen) or null reads 0. */
  def observed(obs: org.apache.spark.sql.Observation, name: String): Long =
    obs.get.get(name).collect { case n: Long => n }.getOrElse(0L)

  /** The RDD ids a pinned DataFrame holds its storage under — persisted
    * blocks in local mode, checkpoint files in reliable mode. Used by
    * session-resident indices to release exactly their own storage on
    * invalidation (a global before/after diff of `getPersistentRDDs`
    * would mis-attribute concurrent persists by unrelated operators).
    */
  def pinnedRddIds(dfs: DataFrame*): Set[Int] =
    dfs.flatMap { df =>
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
    }.toSet

  /** Release the storage behind the given pinned RDD ids: unpersist
    * blocks (local mode) and delete checkpoint files (reliable mode).
    * Iterative loops call this on each superseded round so a 50-round
    * build holds at most two rounds of storage, not fifty — in either
    * mode.
    */
  def release(ids: Set[Int], spark: org.apache.spark.sql.SparkSession): Unit =
    ids.foreach { id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
      Option(checkpointFiles.remove(id)).foreach { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        } catch { case scala.util.control.NonFatal(_) => () } // best-effort cleanup
      }
    }
}
