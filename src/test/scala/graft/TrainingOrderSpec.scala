package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Layout, TrainingOrder}

class TrainingOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = (1L to 1000L).map(i => (i, s"doc-$i")).toDF("id", "payload")

  test("shuffled: pos is an exact 1..n permutation, shards balanced within one") {
    val out = TrainingOrder.shuffled(docs, "id", "seedA", 7).cache()
    val ps = out.select("pos").as[Long].collect().sorted
    assert(ps.toSeq == (1L to 1000L), "pos is a bijection onto 1..n")
    val sizes = out.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.length == 7 && sizes.max - sizes.min <= 1, s"round-robin balance, got ${sizes.toSeq}")
    out.unpersist()
  }

  test("shuffled: order is a pure function of (seed, id) — partition-invariant, seed-sensitive") {
    val a = TrainingOrder.shuffled(docs, "id", "s1", 4)
      .select("id", "pos", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = TrainingOrder.shuffled(docs.repartition(17), "id", "s1", 4)
      .select("id", "pos", "shard").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b, "identical permutation under a different input partitioning")
    val c = TrainingOrder.shuffled(docs, "id", "s2", 4)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a != c, "a different seed permutes differently")
  }

  test("shuffled: the permutation actually scrambles id order") {
    val out = TrainingOrder.shuffled(docs, "id", "seedA", 4)
      .orderBy("pos").select("id").as[Long].collect()
    val sortedRuns = out.sliding(2).count(p => p(1) == p(0) + 1)
    assert(sortedRuns < 100, s"shuffled order must not preserve id adjacency, got $sortedRuns/999 adjacent pairs")
  }

  // --- Layout / z-order ---

  /** Bit-by-bit reference Morton code. */
  private def mortonRef(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("zorder2 matches the bit-by-bit Morton reference on edge and random inputs") {
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L), (65536L, 0L), (-1L, 3L)) ++
      Seq.fill(200)((rnd.nextLong().abs % 200000, rnd.nextLong().abs % 200000))
    val df = cases.toDF("a", "b")
      .withColumn("z", Layout.zorder2(col("a"), col("b")))
    df.collect().foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == mortonRef(a & 0xFFFF, b & 0xFFFF), s"zorder2($a, $b)")
    }
  }
}
