package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way a frame gets pinned (materialized with its lineage cut),
  * and the one way a pin is released.
  *
  * Mode: with no checkpoint dir (local[] runs, tests) [[pin]] is
  * `localCheckpoint()`, which stores blocks on executors — fast, but on a
  * real cluster an executor loss makes the blocks unrecoverable and kills
  * the job. Callers that want durability call
  * `spark.sparkContext.setCheckpointDir(...)` once; every pin is then a
  * RELIABLE `checkpoint()` to that directory (HDFS/object store at
  * cluster scale), which survives executor loss at the cost of a write.
  * Results are identical in both modes — only failure recovery differs.
  *
  * Lifetime: every pin has exactly one of three.
  *   - Scoped: a verb's scratch pins (the frame a table rewrite reads, an
  *     iterative fit's input) are taken through the [[Scope]] of a
  *     [[scoped]] block and released when the block exits, however it
  *     exits. A pin that must go before the verb's next one gets its own
  *     nested block.
  *   - Returned to the caller: a pin inside a returned plan (the global
  *     rank's range partitioning, a query's pinned intermediate) lives
  *     as long as the caller holds the plan; Spark's ContextCleaner frees
  *     its blocks once the plan is garbage.
  *   - Owned: a session-resident index entry ([[SessionIndices]]) or a
  *     handle (`Curation.CurationHandle`) records its pins'
  *     [[pinnedRddIds]] and calls [[release]] on invalidation or close;
  *     so do the iterative loops for each superseded round.
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
    * preserve partitioning/ordering via LogicalRDD. `eager = false`
    * defers the materialization to the first action over the result and
    * is always block-based: a lazy reliable checkpoint keeps no blocks,
    * so every reader would recompute the input until the checkpoint
    * files are written after that first action.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    if (!eager) df.localCheckpoint(eager = false)
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val out = df.checkpoint()
      out.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.rdd.getCheckpointFile.foreach(f => checkpointFiles.put(r.rdd.id, f))
      }
      out
    } else df.localCheckpoint()

  /** The pins of one [[scoped]] block: [[pin]], with the result's
    * storage released when the block exits.
    */
  final class Scope private[Checkpoints] () {
    private val held = scala.collection.mutable.Set.empty[Int]

    def pin(df: DataFrame): DataFrame = {
      val p = Checkpoints.pin(df)
      held.synchronized(held ++= pinnedRddIds(p))
      p
    }

    private[Checkpoints] def pinned: Set[Int] = held.synchronized(held.toSet)
  }

  /** Run `body` with a fresh [[Scope]] and release every pin taken
    * through it when `body` returns or throws.
    */
  def scoped[A](spark: SparkSession)(body: Scope => A): A = {
    val scope = new Scope
    try body(scope)
    finally release(scope.pinned, spark)
  }

  /** A long metric an `Observation` took; absent (no rows seen) or null reads 0. */
  def observed(obs: org.apache.spark.sql.Observation, name: String): Long =
    obs.get.get(name).collect { case n: Long => n }.getOrElse(0L)

  /** The RDD ids a pinned DataFrame holds its storage under — persisted
    * blocks in local mode, checkpoint files in reliable mode. Used by
    * owners (session-resident indices, handles) to release exactly their
    * own storage (a global before/after diff of `getPersistentRDDs`
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
  def release(ids: Set[Int], spark: SparkSession): Unit =
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
