package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStreams

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  test("streaming HLL registers close with the watermark and equal the batch sketch per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val regs = EventStreams.windowedHllRegisters(
      input.toDF().toDF("ts", "uid"), "ts", "uid",
      windowLen = "10 minutes", lateness = "5 minutes", p = 8)
    val q = regs.writeStream.format("memory").queryName("hll_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // window 1: users 1..30 with duplicates; then advance the watermark
      val w1 = (1 to 30).map(u => (ts(1), u.toLong)) ++ Seq((ts(3), 7L), (ts(4), 7L))
      input.addData(w1: _*)
      q.processAllAvailable()
      input.addData((ts(40), 999L))
      q.processAllAvailable()
      input.addData((ts(80), 998L))
      q.processAllAvailable()

      val w0start = ts(1).getTime / 600000L * 600000L
      val out = spark.table("hll_out")
        .where(col("window_start") === new Timestamp(w0start))
      // streaming registers == the batch sketch over the same rows
      // (duplicates change nothing — max absorbs them)
      val batch = graft.operators.Sketches.hllRegisters(
        (1 to 30).map(_.toLong).toDF("uid"), "uid", p = 8)
      assert(out.select("idx", "r").collect().toSet
        == batch.collect().toSet)
      // the grouped readout runs on the sink; at n << m the corrected
      // driver-side readout (linear counting) is the accurate one
      val row = EventStreams.windowedHllEstimate(
        spark.table("hll_out"), p = 8)
        .where(col("window_start") === new Timestamp(w0start))
        .head()
      val est = SketchesSpec.hllCardinality(
        row.getAs[Long]("n_zero"), row.getAs[Long]("sum_scaled"), p = 8)
      assert(math.abs(est - 30.0) < 5.0, s"corrected estimate $est too far from 30")
    } finally q.stop()
  }

  test("IVF ANN: probing finds the exact top hit at a fraction of the scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    // 8 well-separated clusters of 50 points
    val data = (0 until 8).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian() * 5)
      (0 until 50).map { i =>
        val v = center.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
        (c.toLong * 100 + i, v)
      }
    }
    val df = data.toDF("id", "vec")
    val ivf = graft.operators.VectorSearch.buildIvf(df, "vec", nLists = 8)
    val query = data.head._2
    val hits = ivf.annTopK(query, 5, col("id"), nProbe = 2).collect()
    assert(hits.nonEmpty)
    assert(hits.head.getAs[Long]("id") == data.head._1, "self vector must rank first")
    assert(hits.head.getAs[Double]("score") > 0.999)
  }

  test("windowDrift scores a batch-built (window_start, category, n) frame") {
    import spark.implicits._
    // window 0: 3 click, 1 error (reference expects 50/50)
    val w0 = new Timestamp(ts(1).getTime / 600000L * 600000L)
    val counts = Seq((w0, "click", 3L), (w0, "error", 1L)).toDF("window_start", "category", "n")
    val reference = Seq(("click", 10L), ("error", 10L), ("view", 0L)).toDF("category", "n")
    val out = EventStreams.windowDrift(counts, reference, "category", "n")
      .where(col("window_start") === w0)
      .orderBy("category").collect()
    val byCat = out.map(r => r.getAs[String]("category") -> r).toMap
    // click: obs 3/4 = 750000 ppm vs ref 10/20 = 500000 -> |diff| 250000
    assert(byCat("click").getAs[Long]("n") == 3L)
    assert(byCat("click").getAs[Long]("ppm_obs") == 750000L)
    assert(byCat("click").getAs[Long]("ppm_ref") == 500000L)
    assert(byCat("click").getAs[Long]("abs_ppm_diff") == 250000L)
    // error: 250000 vs 500000 -> 250000; view: reference-only row, 0 vs 0
    assert(byCat("error").getAs[Long]("abs_ppm_diff") == 250000L)
    assert(byCat("view").getAs[Long]("n") == 0L && byCat("view").getAs[Long]("abs_ppm_diff") == 0L)
    // tvd2 = 500000 on every row of the window (TVD = 0.25)
    assert(out.forall(_.getAs[Long]("tvd2_ppm") == 500000L))
  }

  test("streaming vector sums close with the watermark; vectorWindowDrift scores the sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Seq[Float])]
    val stream = input.toDF().toDF("ts", "vec")
    val sums = EventStreams.windowedVectorSums(
      stream, "ts", "vec", windowLen = "10 minutes", lateness = "5 minutes")
    val q = sums.writeStream.format("memory").queryName("vec_sums")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // window 0: vectors (0.75, 0.25) and (0.25, 0.25); a NaN vector must drop
      input.addData(
        (ts(1), Seq(0.75f, 0.25f)),
        (ts(3), Seq(0.25f, 0.25f)),
        (ts(4), Seq(Float.NaN, 1.0f)))
      q.processAllAvailable()
      input.addData((ts(40), Seq(0.5f, 0.5f))) // advance watermark past window 0
      q.processAllAvailable()

      val w0 = new Timestamp(ts(1).getTime / 600000L * 600000L)
      val closed = spark.table("vec_sums").where(col("window_start") === w0)
        .orderBy("dim").collect()
      // dim1: 750 + 250 = 1000 over 2 vectors; dim2: 250 + 250 = 500
      assert(closed.map(r => (r.getAs[Long]("dim"), r.getAs[Long]("cnt"), r.getAs[Long]("qsum"))).toSeq
        == Seq((1L, 2L, 1000L), (2L, 2L, 500L)), closed.mkString(";"))

      // reference centroid (0.25, 0.25) from 4 vectors: sums (1000, 1000)
      val ref = Seq((1L, 4L, 1000L), (2L, 4L, 1000L)).toDF("dim", "cnt", "qsum")
      val drift = EventStreams.vectorWindowDrift(
          spark.table("vec_sums").where(col("window_start") === w0),
          ref, "dim", "cnt", "qsum")
        .orderBy("dim").collect()
      // dim1: window mean 500 vs ref 250 -> +250000 milli-q; dim2: 250 vs 250 -> 0
      assert(drift.map(_.getAs[Long]("shift_milliq")).toSeq == Seq(250000L, 0L),
        drift.mkString(";"))
    } finally q.stop()
  }

  test("windowDrift surfaces novel categories absent from the reference") {
    import spark.implicits._
    val counts = Seq((ts(0), "click", 1L), (ts(0), "weird_new_type", 1L))
      .toDF("window_start", "category", "n")
    val reference = Seq(("click", 5L)).toDF("category", "n")
    val out = EventStreams.windowDrift(counts, reference, "category", "n")
      .orderBy("category").collect()
    val novel = out.find(_.getAs[String]("category") == "weird_new_type").get
    assert(novel.getAs[Long]("ref_n") == 0L)
    assert(novel.getAs[Long]("ppm_obs") == 500000L && novel.getAs[Long]("ppm_ref") == 0L)
    assert(novel.getAs[Long]("abs_ppm_diff") == 500000L)
  }
}
