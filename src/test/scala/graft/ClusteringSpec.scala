package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Clustering

class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // three well-separated 2-D blobs; ids chosen so the three lowest ids
  // (the seeds) land one per blob
  private lazy val blobs = Seq(
    (1L, Array(0.0f, 0.0f)), (4L, Array(0.05f, 0.1f)), (5L, Array(0.1f, 0.0f)),
    (2L, Array(5.0f, 5.0f)), (6L, Array(5.1f, 4.9f)), (7L, Array(4.9f, 5.05f)),
    (3L, Array(-5.0f, 5.0f)), (8L, Array(-5.1f, 5.1f)), (9L, Array(-4.9f, 4.95f))
  ).toDF("vec_id", "embedding")

  test("separated blobs resolve to their seed clusters") {
    val got = Clustering
      .kmeansAssign(blobs, "vec_id", "embedding", k = 3, iters = 2)
      .select("vec_id", "cluster")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // seeds: ids 1,2,3 -> clusters 0,1,2 in id order
    assert(got == Map(
      1L -> 0L, 4L -> 0L, 5L -> 0L,
      2L -> 1L, 6L -> 1L, 7L -> 1L,
      3L -> 2L, 8L -> 2L, 9L -> 2L
    ), s"got $got")
  }

  test("assignment is invariant to input partitioning") {
    val a = Clustering.kmeansAssign(blobs.repartition(1), "vec_id", "embedding", 3, 3)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val b = Clustering.kmeansAssign(blobs.repartition(7), "vec_id", "embedding", 3, 3)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(a == b)
  }

  test("an emptied cluster keeps its previous centroid (k > distinct points)") {
    // two coincident groups, k=3: one seed's cluster empties after the
    // first update; the run must still converge deterministically
    val df = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.001f, 0.0f)), (3L, Array(10.0f, 10.0f)),
      (4L, Array(10.0f, 10.001f)), (5L, Array(0.0f, 0.001f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.kmeansAssign(df, "vec_id", "embedding", k = 3, iters = 3)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 5)
    assert(got(3L) == got(4L), "far blob stays together")
    assert(got(1L) != got(3L), "blobs must not merge")
  }

  test("cluster sizes aggregate") {
    val assigned = Clustering.kmeansAssign(blobs, "vec_id", "embedding", 3, 2)
    val sizes = assigned.groupBy("cluster").count().orderBy("cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sizes.toSeq == Seq((0L, 3L), (1L, 3L), (2L, 3L)))
  }

  test("incremental assignment: frozen model labels a new batch like a rerun would") {
    val model = Clustering.kmeansFit(blobs, "vec_id", "embedding", k = 3, iters = 2)
    // new batch near the three blob centers
    val batch = Seq(
      (100L, Array(0.02f, 0.05f)),
      (101L, Array(5.05f, 4.95f)),
      (102L, Array(-5.05f, 5.02f))
    ).toDF("vec_id", "embedding")
    val got = Clustering.assignWith(model, batch, "embedding")
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 0L, 101L -> 1L, 102L -> 2L), s"got $got")
    // fit+assign in one call == the two-step path on the SAME data
    val oneCall = Clustering.kmeansAssign(blobs, "vec_id", "embedding", 3, 2)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val twoStep = Clustering.assignWith(model, blobs, "embedding")
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(oneCall == twoStep)
  }

  test("streaming: frozen model labels micro-batches via foreachBatch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val model = Clustering.kmeansFit(blobs, "vec_id", "embedding", k = 3, iters = 2)
    val input = MemoryStream[(Long, Array[Float])]
    val labeled = scala.collection.mutable.Map[Long, Long]()
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Clustering.assignWith(model, batch, "embedding")
          .select("vec_id", "cluster").collect()
          .foreach(r => labeled.synchronized { labeled(r.getLong(0)) = r.getLong(1) })
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData((200L, Array(0.1f, 0.05f)), (201L, Array(5.0f, 5.1f)))
      q.processAllAvailable()
      input.addData((202L, Array(-5.0f, 5.0f)))
      q.processAllAvailable()
      assert(labeled.toMap == Map(200L -> 0L, 201L -> 1L, 202L -> 2L), s"got $labeled")
    } finally q.stop()
  }

  test("semdedup: pairs form only within clusters, above the threshold") {
    // blob A holds a near-duplicate pair (1,4) plus an orthogonal-ish
    // member; blob B parallels blob A's direction but must not pair with
    // it (different cluster)
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (4L, Array(0.999f, 0.01f)), (5L, Array(0.6f, 0.8f)),
      (2L, Array(100.0f, 0.0f)), (6L, Array(100.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Clustering
      .withinClusterNearDupPairs(df, "vec_id", "embedding", k = 2, iters = 2, simFp = 99000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,4) near-identical direction within one cluster; (2,6) also near-
    // parallel within the other; (1,2)/(4,2) cross-cluster -> excluded
    assert(pairs.contains((1L, 4L)), s"expected (1,4) in $pairs")
    assert(pairs.forall { case (a, b) => Set((1L, 4L), (2L, 6L)).contains((a, b)) }, s"got $pairs")
  }

  test("semanticRepresentatives keeps the best-scoring member per duplicate group") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0.2),
      (4L, Array(0.999f, 0.01f), 0.9), // duplicate of 1, higher quality
      (5L, Array(0.0f, 1.0f), 0.5),    // no duplicate: survives
      (2L, Array(50.0f, 50.0f), 0.7)   // other cluster, singleton
    ).toDF("vec_id", "embedding", "quality")
    val kept = Clustering
      .semanticRepresentatives(df, "vec_id", "embedding", "quality", k = 2, iters = 2, simFp = 99000000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L, 5L, 2L), s"got $kept")
  }
}
