package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VectorSearch

/** Product-quantization family: seeded fit, frozen-codebook encode, ADC
  * search — determinism, exactness against hand-computed distances, and
  * the retrieval sanity a planted-cluster corpus implies.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 24 vectors in 3 planted clusters around (10,10,..), (-10,10,..),
  // (0,-10,..) with deterministic per-id jitter — dim 8
  private def planted = {
    val rows = (0 until 24).map { i =>
      val g = i % 3
      val base: Array[Float] = g match {
        case 0 => Array(10f, 10f, 10f, 10f, 0f, 0f, 0f, 0f)
        case 1 => Array(-10f, 10f, -10f, 10f, 0f, 0f, 0f, 0f)
        case _ => Array(0f, -10f, 0f, -10f, 0f, 0f, 0f, 0f)
      }
      val jit = base.zipWithIndex.map { case (x, j) => x + ((i * 7 + j * 3) % 5) * 0.1f }
      (i.toLong, jit.toSeq)
    }
    rows.toDF("id", "vec")
  }

  test("pqFit iters=0: codebook IS the subvector slices of the k lowest ids") {
    val df = planted
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 0)
    assert(m.nSub == 4 && m.k == 3 && m.subDim == 2)
    val seeds = df.orderBy("id").limit(3).collect()
      .map(_.getSeq[Float](1).map(x => math.floor(x * 1000.0).toLong))
    for (s <- 0 until 4; c <- 0 until 3)
      assert(m.codebook(s)(c).toSeq == seeds(c).slice(s * 2, s * 2 + 2),
        s"sub $s cid $c")
  }

  test("encoding the seeds against the seed codebook is the identity") {
    val df = planted
    val seeds = df.where(col("id") < 3)
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 0)
    val codes = VectorSearch.pqEncode(m, seeds, "id", "vec")
      .orderBy("id").collect()
    codes.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Int](1) == Seq.fill(4)(i), s"seed $i should self-encode")
    }
  }

  test("ADC score equals the hand-computed lookup sum; ascending id-tied top-k") {
    val df = planted
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 1)
    val codes = VectorSearch.pqEncode(m, df, "id", "vec")
    val qv = df.where(col("id") === 0).select("vec").head().getSeq[Float](0)
    val got = VectorSearch.pqSearch(m, codes, qv, 24).collect()
    // recompute expected ADC per id from the collected codes
    val qq = qv.map(x => math.floor(x.toDouble * 1000).toLong)
    val codeMap = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def dt(s: Int, c: Int): Long =
      (0 until 2).map { j =>
        val d = qq(s * 2 + j) - m.codebook(s)(c)(j); d * d
      }.sum
    got.foreach { r =>
      val exp = codeMap(r.getLong(0)).zipWithIndex.map { case (c, s) => dt(s, c) }.sum
      assert(r.getLong(1) == exp, s"id ${r.getLong(0)}")
    }
    // ordered ascending, ties by id
    val scores = got.map(r => (r.getLong(1), r.getLong(0)))
    assert(scores.sameElements(scores.sorted))
  }

  test("fit and encode are deterministic across repartitionings") {
    val df = planted
    val a = VectorSearch.pqFit(df.repartition(7), "id", "vec", nSub = 4, k = 3, iters = 2)
    val b = VectorSearch.pqFit(df.repartition(2), "id", "vec", nSub = 4, k = 3, iters = 2)
    assert(a.codebook.map(_.map(_.toSeq).toSeq).toSeq
      == b.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val ea = VectorSearch.pqEncode(a, df.repartition(5), "id", "vec")
      .orderBy("id").collect().map(r => r.getSeq[Int](1)).toSeq
    val eb = VectorSearch.pqEncode(b, df, "id", "vec")
      .orderBy("id").collect().map(r => r.getSeq[Int](1)).toSeq
    assert(ea == eb)
  }

  test("planted clusters: ADC retrieves the query's own cluster first") {
    val df = planted
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 2)
    val codes = VectorSearch.pqEncode(m, df, "id", "vec")
    val qv = df.where(col("id") === 3).select("vec").head().getSeq[Float](0) // cluster 0
    val top8 = VectorSearch.pqSearch(m, codes, qv, 8).collect().map(_.getLong(0))
    assert(top8.forall(_ % 3 == 0),
      s"top-8 for a cluster-0 query should all be cluster 0, got ${top8.mkString(",")}")
  }

  test("frozen codebook encodes a NEW batch without refit") {
    val df = planted
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 1)
    val batch = Seq((100L, Seq(10.2f, 10.1f, 10.0f, 10.3f, 0.1f, 0.2f, 0.0f, 0.1f)))
      .toDF("id", "vec")
    val enc = VectorSearch.pqEncode(m, batch, "id", "vec").head()
    assert(enc.getLong(0) == 100L && enc.getSeq[Int](1).length == 4)
    assert(enc.getSeq[Int](1).forall(c => c >= 0 && c < 3))
  }

  test("keepCols ride through pqEncode; cell pruning filters but never rescores") {
    val df = planted.withColumn("cell", col("id") % 2)
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 1)
    val codes = VectorSearch.pqEncode(m, df, "id", "vec", keepCols = Seq("cell"))
    assert(codes.columns.toSeq == Seq("id", "pq_codes", "cell"))
    val qv = df.where(col("id") === 0).select("vec").head().getSeq[Float](0)
    val pruned = VectorSearch.pqSearch(m, codes.where(col("cell") === 0), qv, 24).collect()
    assert(pruned.nonEmpty && pruned.forall(_.getLong(0) % 2 == 0))
    val full = VectorSearch.pqSearch(m, codes, qv, 24).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pruned.foreach(r => assert(full(r.getLong(0)) == r.getLong(1),
      "IVF pruning must only FILTER the candidate set, never change ADC scores"))
  }

  test("guards: dim not divisible, too few rows, bad query dim") {
    val df = planted
    intercept[IllegalArgumentException] {
      VectorSearch.pqFit(df, "id", "vec", nSub = 3, k = 2, iters = 0)
    }
    intercept[IllegalArgumentException] {
      VectorSearch.pqFit(df.limit(2), "id", "vec", nSub = 4, k = 3, iters = 0)
    }
    val m = VectorSearch.pqFit(df, "id", "vec", nSub = 4, k = 3, iters = 0)
    intercept[IllegalArgumentException] {
      VectorSearch.pqSearch(m, VectorSearch.pqEncode(m, df, "id", "vec"), Seq(1f, 2f), 5)
    }
  }
}
