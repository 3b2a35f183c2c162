package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftConfig
import graft.pipeline.Pipeline

/** Watch ingest: the reference's incremental directory ingest
  * (src/pipeline.py:192-220 — hash-diff the directory against the
  * ledger, process only new files) made restart-safe with Structured
  * Streaming.
  *
  * A `binaryFile` stream over the directory's `*.pdf` files hands each
  * micro-batch to [[Pipeline.ingestBatch]], the same body
  * [[Pipeline.processDirectory]] runs: the ledger anti-join still drops
  * content seen before, and the stream's checkpoint adds that each file
  * is offered once across restarts. The checkpoint lives under the
  * warehouse directory, so [[Pipeline.flush]] resets it together with
  * the tables. `Cli process --watch <pdfDir>` runs it.
  */
final class StreamingIngest(spark: SparkSession, config: GraftConfig) {

  private val pipeline = new Pipeline(spark, config)

  /** Start watching `pdfDir`; returns the running query
    * (`processAllAvailable()` / `awaitTermination()` / `stop()`).
    */
  def start(pdfDir: String): StreamingQuery = {
    // one checkpoint per watched directory
    val dirKey = java.util.UUID.nameUUIDFromBytes(graft.util.PathKeys.normalize(pdfDir).getBytes("UTF-8"))
    val checkpoint = s"${config.warehouseDir}/watch/$dirKey"
    spark.readStream
      .format("binaryFile")
      .schema(BinaryFileFormat.schema) // a file stream is given its schema
      .option("pathGlobFilter", "*.pdf")
      .option("maxFilesPerTrigger", StreamingIngest.MaxFilesPerBatch)
      .load(pdfDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(StreamingIngest.WatchIntervalMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = pipeline.ingestBatch(batch, s"$checkpoint#$batchId")
        graft.util.JsonLog.info("ingest_watch_batch",
          "dir" -> pdfDir, "batch_id" -> batchId, "ingested_docs" -> n)
      }
      .start()
  }
}

object StreamingIngest {
  /** How often the watch looks for new files. */
  val WatchIntervalMs = 2000L

  /** Backpressure: files per micro-batch. */
  val MaxFilesPerBatch = 64
}
