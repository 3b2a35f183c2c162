package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (object = JVM singleton). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Append `rows` as one parquet file of (id, text) rows to the `chunks`
    * table of warehouse `wh`: the table shape `Pipeline.ftsIndex` reads.
    */
  def appendChunks(wh: String, rows: (String, String)*): Unit = {
    import spark.implicits._
    rows.toDF("id", "text").coalesce(1).write.mode("append").parquet(s"$wh/chunks")
  }

  /** `pipe`'s resident FTS index against a fresh build over its chunks
    * table: the same stats, and the same (id, score) list for `query`.
    */
  def assertFreshIndex(pipe: graft.pipeline.Pipeline, query: String, what: String): Unit = {
    import org.scalatest.Assertions._
    import graft.operators.FtsIndex
    val resident = pipe.ftsIndex
    val fresh = FtsIndex.build(pipe.catalog.read("chunks"), "id", "text")
    def hits(idx: FtsIndex.Index): Seq[(String, Double)] =
      FtsIndex.search(spark, idx, query, 10).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    try {
      assert((resident.numDocs, resident.totalDocLen) == ((fresh.numDocs, fresh.totalDocLen)), what)
      assert(hits(resident).nonEmpty && hits(resident) == hits(fresh), what)
    } finally fresh.postings.unpersist()
  }

  /** The Spark jobs `body` starts on the shared session. */
  def jobsDuring(body: => Unit): Long = {
    val jobs = new AtomicLong
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(counter)
    try body
    finally {
      // drain the async listener bus (private API, so reflective) first
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
      spark.sparkContext.removeSparkListener(counter)
    }
    jobs.get()
  }
}
