package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with engine defaults tuned for the target
  * deployment: a many-executor cluster scanning ~100 TB of parquet. On the
  * local test harness this is `local[32]` in one JVM, but every knob below
  * is chosen to also be correct on a real cluster:
  *
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join
  *     splitting, which is what keeps the 32-partition local setting and a
  *     4000-partition cluster setting both healthy without code changes.
  *   - shuffle.partitions: defaults to #cores locally; on a cluster this
  *     should be ~2-3x total executor cores (AQE coalesces down).
  *   - maxPartitionBytes 128m: parquet scan granularity that keeps 100 TB
  *     readable as ~800k tasks rather than a handful of giant ones.
  *   - autoBroadcastJoinThreshold 64m: dimension tables (region, nation,
  *     supplier, corpus-stats) broadcast instead of shuffling the fact side.
  */
object GraftSession {
  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the engine's SQL surface is always available on a graft session
    // (cluster-wide deployments use GraftExtensions via spark.sql.extensions)
    GraftExtensions.register(spark)
    spark
  }
}
