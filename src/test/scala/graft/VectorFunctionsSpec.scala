package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("cosine expression: orthogonal, identical, opposite vectors") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f), -1.0)
    ).toDF("a", "b", "expected")
    val rows = df.select(VectorFunctions.cosineSim(col("a"), col("b")).as("got"), col("expected")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine expression: null-safe and zero-vector-safe") {
    val df = Seq(
      (Some(Seq(1.0f, 1.0f)), None: Option[Seq[Float]]),
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 1.0f)))
    ).toDF("a", "b")
    val rows = df.select(VectorFunctions.cosineSim(col("a"), col("b")).as("c")).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("cosine survives codegen (wholestage plan) and interpreted mode equally") {
    val df = (1 to 100)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * j % 7).toFloat)))
      .toDF("id", "v")
    val q = Seq.tabulate(8)(j => (j % 3).toFloat)
    val on = df.withColumn("s", VectorFunctions.cosineSim(col("v"), typedlit(q)))
    val scores = on.orderBy(desc("s"), col("id")).select("id").limit(5).as[Long].collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val scores2 = on.orderBy(desc("s"), col("id")).select("id").limit(5).as[Long].collect()
      assert(scores.toSeq == scores2.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("integer dot and squared-distance kernels match the fold they replace") {
    val df = Seq(
      (Seq(3L, -2L, 7L), Seq(10L, 4L, -1L)),
      (Seq(0L, 0L, 0L), Seq(5L, 5L, 5L)),
      (Seq(-20000L, 19999L, 12345L), Seq(20000L, -19999L, 9999L)) // quantization envelope
    ).toDF("a", "b")
    val got = df.select(
      VectorFunctions.longDotCol(col("a"), col("b")).as("d"),
      VectorFunctions.longSqDistCol(col("a"), col("b")).as("s"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (acc, x) => acc + x).as("dRef"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x).as("sRef")
    ).collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(2), s"dot mismatch: $r")
      assert(r.getLong(1) == r.getLong(3), s"sqdist mismatch: $r")
    }
    // null-safe: null array -> null result
    val nulls = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(VectorFunctions.longDotCol(col("a"), col("b"))).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("dot product equals cosine for unit vectors, within fp tolerance") {
    val e = graft.operators.HashingEmbedder(32)
    val df = Seq("alpha beta gamma", "delta epsilon", "zeta eta theta words")
      .map(t => Tuple1(e.embedOne(t))).toDF("v")
    val q = e.embedOne("alpha beta words")
    val rows = df.select(
      VectorFunctions.dotProduct(col("v"), typedlit(q.toSeq)).as("d"),
      VectorFunctions.cosineSim(col("v"), typedlit(q.toSeq)).as("c")
    ).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6))
  }

  test("IVF recall@10 >= 0.9 vs exact cosine at nProbe=4, structure-aligned quantizer") {
    import graft.operators.VectorSearch
    // the reference's vector store is EXACT kNN (lancedb_store.py:127-152
    // — no ANN index is ever created), so our approximate scale path must
    // quantify its trade against the exact answer it approximates. Recall
    // is governed by cell/structure alignment: the sf0.01 corpus has 10
    // natural clusters, so nLists=10 is the aligned sizing (contract:
    // >= 0.9 at nProbe=4) and nLists=16 the 1.6x over-partitioned one
    // (measured 0.755 — the cost of splitting neighbor sets across
    // cells; documented in COVERAGE.md).
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queryIds = 0L until 20L
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val exactSets = queryIds.map { qid =>
      qid -> VectorSearch.topK(emb, "embedding", queries(qid), 10, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap
    def meanRecall(nLists: Int, nProbe: Int): Double = {
      val ivf = VectorSearch.buildIvf(emb, "embedding", nLists = nLists, seed = 42L)
      val recalls = queryIds.map { qid =>
        val approx = ivf.annTopK(queries(qid), 10, col("vec_id"), nProbe = nProbe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (exactSets(qid) & approx).size / 10.0
      }
      ivf.indexed.unpersist()
      recalls.sum / recalls.size
    }
    val aligned = meanRecall(nLists = 10, nProbe = 4)
    info(f"IVF recall@10, nLists=10 nProbe=4: $aligned%.3f")
    assert(aligned >= 0.9, f"structure-aligned IVF recall@10 $aligned%.3f below 0.9")
    val overPartitioned = meanRecall(nLists = 16, nProbe = 4)
    info(f"IVF recall@10, nLists=16 nProbe=4: $overPartitioned%.3f")
    assert(overPartitioned >= 0.7,
      f"over-partitioned IVF recall@10 $overPartitioned%.3f collapsed below 0.7")
  }

  test("SimHash-LSH recall@10 vs exact cosine at sf0.01 (q_ann_lsh contract)") {
    import graft.operators.VectorSearch
    // the LSH ANN path's measured trade (VERDICT r4 #7): q_ann_lsh is
    // rows-only (bucketing isn't SQL-portable), so its quality contract
    // lives here — mean recall@10 against the exact answer, same shape as
    // the IVF assertion above. maxHamming=8 over 16 bits is the q_ann_lsh
    // operating point.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queryIds = 0L until 20L
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = queries(0L).length
    val lsh = VectorSearch.SimHashLsh(nBits = 16, dim = dim)
    val indexed = lsh.withSignature(emb, "embedding").persist()
    val exactSets = queryIds.map { qid =>
      qid -> VectorSearch.topK(emb, "embedding", queries(qid), 10, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap
    def meanRecall(maxHamming: Int): Double = {
      val recalls = queryIds.map { qid =>
        val approx = lsh
          .annTopK(indexed, "embedding", queries(qid), 10, col("vec_id"), maxHamming = maxHamming)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (exactSets(qid) & approx).size / 10.0
      }
      recalls.sum / recalls.size
    }
    val atOperating = meanRecall(8) // the q_ann_lsh operating point
    info(f"SimHash-LSH recall@10, nBits=16 maxHamming=8: $atOperating%.3f")
    assert(atOperating >= 0.8,
      f"LSH recall@10 $atOperating%.3f below the 0.8 operating-point floor (measured 0.86)")
    // widening the Hamming radius is the recall knob: candidates grow,
    // recall must be monotone-ish and clear 0.9 at radius 10
    val widened = meanRecall(10)
    indexed.unpersist()
    info(f"SimHash-LSH recall@10, nBits=16 maxHamming=10: $widened%.3f")
    assert(widened >= 0.9, f"widened LSH recall@10 $widened%.3f below 0.9")
    assert(widened >= atOperating - 0.05, "recall must not collapse as the radius widens")
  }

  test("ANN recall floors hold at the bench scale factor (sf0.1: IVF >= 0.9, LSH >= 0.8)") {
    import graft.operators.VectorSearch
    // recall is the one correctness property the oracle can't see, and it
    // DEGRADES with corpus density: the sf0.01 contracts above could hold
    // while the 4x-denser bench corpus silently decayed. Same floors,
    // same operating points, measured where Bench measures (VERDICT r8
    // #5); the numbers are recorded in SCALE.md.
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val queryIds = 0L until 20L
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val exactSets = queryIds.map { qid =>
      qid -> VectorSearch.topK(emb, "embedding", queries(qid), 10, col("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }.toMap
    def recallOf(fetch: Long => Set[Long]): Double =
      queryIds.map(qid => (exactSets(qid) & fetch(qid)).size / 10.0).sum / queryIds.size

    // IVF. The sf0.01 "structure-aligned" premise does NOT transfer: at
    // sf0.1 every learned cell contains all 10 labels (measured: the
    // corpus has no k-means-separable macro-structure), so recall tracks
    // the SCAN FRACTION nProbe/nLists, and the sf0.01 operating point
    // (10/4) measures 0.770 here. The
    // sf0.1 operating point compensates with a higher probed fraction:
    // nLists=8 nProbe=6 measures 0.945 (nProbe=5: 0.900). Both the
    // degradation and the compensating point are recorded in SCALE.md —
    // this is exactly the "recall degrades with corpus density/structure"
    // failure mode the oracle can't see, caught by measuring at the
    // bench scale factor.
    def ivfRecallAt(nLists: Int, nProbe: Int): Double = {
      val ivf = VectorSearch.buildIvf(emb, "embedding", nLists = nLists, seed = 42L)
      val r = recallOf { qid =>
        ivf.annTopK(queries(qid), 10, col("vec_id"), nProbe = nProbe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }
      ivf.indexed.unpersist()
      r
    }
    val ivfOld = ivfRecallAt(10, 4)
    info(f"sf0.1 IVF recall@10 at the sf0.01 operating point (nLists=10 nProbe=4): $ivfOld%.3f")
    // the DECAY is itself the documented contract (SCALE.md: 0.770 —
    // operating points are per-corpus): if this point ever measures at
    // the 0.9 floor, the per-corpus story is stale and SCALE.md lies
    assert(ivfOld >= 0.65 && ivfOld < 0.9,
      f"sf0.1 recall at the sf0.01 point measured $ivfOld%.3f — outside the documented decay band [0.65, 0.9); update SCALE.md")
    val ivfRecall = ivfRecallAt(8, 6)
    info(f"sf0.1 IVF recall@10 at the sf0.1 operating point (nLists=8 nProbe=6): $ivfRecall%.3f")
    assert(ivfRecall >= 0.9, f"sf0.1 IVF recall@10 $ivfRecall%.3f below 0.9 at its operating point")

    // SimHash-LSH at the q_ann_lsh operating point (nBits=16, radius 8)
    val lsh = VectorSearch.SimHashLsh(nBits = 16, dim = queries(0L).length)
    val indexed = lsh.withSignature(emb, "embedding").persist()
    val lshRecall = recallOf { qid =>
      lsh.annTopK(indexed, "embedding", queries(qid), 10, col("vec_id"), maxHamming = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    indexed.unpersist()
    info(f"sf0.1 SimHash-LSH recall@10, nBits=16 maxHamming=8: $lshRecall%.3f")
    assert(lshRecall >= 0.8,
      f"sf0.1 LSH recall@10 $lshRecall%.3f below the 0.8 operating-point floor")

    // Banded multi-table LSH: the retrieval datasheet floors (SCALE.md
    // round-10 table). On this wide-angle corpus the band-OR
    // layout's recall is governed by L alone (recall = 1 - (1-q)^L, q
    // the per-table collision rate ~ 0.05 at b=6) — assert the L=16
    // point AND the monotone climb from L=4, so a signer regression
    // that flattens the curve fails even if one point survives.
    def bandedRecallAt(bits: Int, l: Int): Double = {
      val idx = VectorSearch.buildBandedLsh(
        emb, "vec_id", "embedding", queries(0L).length, numTables = l, bandBits = bits)
      recallOf { qid =>
        idx.annTopK(queries(qid), 10, col("vec_id"))
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }
    }
    val bandedL4 = bandedRecallAt(6, 4)
    val bandedL16 = bandedRecallAt(6, 16)
    info(f"sf0.1 banded-LSH recall@10: b=6 L=4 $bandedL4%.3f, L=16 $bandedL16%.3f")
    assert(bandedL16 >= 0.45,
      f"sf0.1 banded-LSH recall@10 $bandedL16%.3f below the 0.45 floor at b=6 L=16 (measured 0.585)")
    assert(bandedL16 >= bandedL4 + 0.2,
      f"banded recall must climb with L: L=4 $bandedL4%.3f vs L=16 $bandedL16%.3f")

    // SQ8 integer-dot search: near-exact (datasheet 0.985)
    val q8 = VectorSearch.quantizeInt8(emb, "vec_id", "embedding").persist()
    val q8Rows = queryIds.map { qid =>
      val r = q8.where(col("id") === qid).select("qvec", "mx").head()
      qid -> (r.getSeq[Long](0), r.getDouble(1))
    }.toMap
    val sq8Recall = recallOf { qid =>
      VectorSearch.topKInt8(q8, q8Rows(qid)._1, q8Rows(qid)._2, 10)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    q8.unpersist()
    info(f"sf0.1 SQ8 recall@10: $sq8Recall%.3f")
    assert(sq8Recall >= 0.9, f"sf0.1 SQ8 recall@10 $sq8Recall%.3f below 0.9")
  }

  test("SQL registration works") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("MMR re-rank: top hit kept, near-duplicate demoted below a diverse hit") {
    import spark.implicits._
    // qid 0: candidates 1 and 2 are nearly identical vectors (both highly
    // relevant); candidate 3 is orthogonal-ish and less relevant. Plain
    // relevance order: 1, 2, 3. MMR must pick 1, then 3 (2 is redundant).
    val cands = Seq(
      (0L, 1L, Array(1.0f, 0.0f, 0.0f), 0.99),
      (0L, 2L, Array(0.999f, 0.04f, 0.0f), 0.98),
      (0L, 3L, Array(0.0f, 1.0f, 0.0f), 0.80),
      // qid 7 runs in the same job: grouping must not leak across queries
      (7L, 9L, Array(0.0f, 0.0f, 1.0f), 0.5)
    ).toDF("qid", "id", "vec", "score")
    val out = graft.operators.VectorSearch
      .mmrRerank(cands, "qid", "id", "vec", "score", k = 2, lambda = 0.5)
    val q0 = out.where(col("qid") === 0).orderBy("mmr_rank")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("mmr_rank")))
    assert(q0.toSeq == Seq((1L, 1L), (3L, 2L)), q0.mkString(";"))
    // rank-1 marginal is pure relevance
    assert(out.where(col("qid") === 0 && col("mmr_rank") === 1)
      .head().getAs[Double]("mmr_score") == 0.99)
    val q7 = out.where(col("qid") === 7).collect()
    assert(q7.length == 1 && q7.head.getAs[Long]("id") == 9L)
    // partition invariance + k beyond candidate count truncates
    val rep = graft.operators.VectorSearch
      .mmrRerank(cands.repartition(5), "qid", "id", "vec", "score", k = 10, lambda = 0.5)
    assert(rep.where(col("qid") === 0).count() == 3)
    val repQ0 = rep.where(col("qid") === 0).orderBy("mmr_rank")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("mmr_rank")))
    assert(repQ0.take(2).toSeq == Seq((1L, 1L), (3L, 2L)))
  }

  test("MMR survives all-NaN marginals (zero vectors) without crashing") {
    import spark.implicits._
    // zero vectors score NaN from 0/0 cosine: the greedy loop must stop
    // cleanly instead of dereferencing best = -1
    val cands = Seq(
      (0L, 1L, Array(0.0f, 0.0f), Double.NaN),
      (0L, 2L, Array(0.0f, 0.0f), Double.NaN)
    ).toDF("qid", "id", "vec", "score")
    assert(graft.operators.VectorSearch
      .mmrRerank(cands, "qid", "id", "vec", "score", k = 2).count() == 0)
    // mixed: real-scored candidates still picked, NaN tail dropped
    val mixed = Seq(
      (0L, 1L, Array(1.0f, 0.0f), 0.9),
      (0L, 2L, Array(0.0f, 0.0f), Double.NaN)
    ).toDF("qid", "id", "vec", "score")
    val got = graft.operators.VectorSearch
      .mmrRerank(mixed, "qid", "id", "vec", "score", k = 2)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("quantizeInt8: codes bounded, extremes exact, zero vector safe") {
    import graft.operators.VectorSearch
    val df = Seq(
      (1L, Seq(1.0f, -1.0f, 0.5f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val q = VectorSearch.quantizeInt8(df, "id", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    // mx=1: 1.0 -> 127, -1.0 -> floor(-127.0) = -127, 0.5 -> floor(63.5) = 63
    assert(q(1L) == Seq(127L, -127L, 63L, 0L), q.toString)
    assert(q(2L) == Seq(0L, 0L, 0L, 0L))
    assert(q.values.flatten.forall(v => v >= -127 && v <= 127), "int8-safe range")
    // double inputs: (x * 127.0) / mx at x = -mx can round to -127.0000...1
    // whose floor is -128 — the clamp must hold the documented range
    val mags = Seq(835765.1039200339, 1.0000000000000002, 3.3333333333333335e-7)
    val dbl = mags.zipWithIndex.map { case (m, i) => (i.toLong, Seq(-m, m, m / 3)) }
      .toDF("id", "vec")
    val qd = VectorSearch.quantizeInt8(dbl, "id", "vec")
      .collect().flatMap(_.getSeq[Long](2))
    assert(qd.forall(v => v >= -127 && v <= 127), s"clamped: ${qd.toSeq}")
    assert(qd.count(_ == -127L) == mags.size, "the -mx component quantizes to -127 exactly")
  }

  test("SQ8 top-k recall vs exact cosine is high on a unit-normalized corpus") {
    import graft.operators.VectorSearch
    val rnd = new scala.util.Random(7)
    // the documented cosine path: L2-normalize BEFORE quantizing, so the
    // dequantized dot approximates cosine
    val corpus = (0L until 300L).map { i =>
      val raw = Array.fill(32)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum)
      (i, raw.map(x => (x / n).toFloat).toSeq)
    }.toDF("id", "vec")
    val q = VectorSearch.quantizeInt8(corpus, "id", "vec").cache()
    val q0 = q.where(col("id") === 0L).select("qvec", "mx").head()
    val sq8Top = VectorSearch.topKInt8(q, q0.getSeq[Long](0), q0.getDouble(1), 10)
      .select("id").as[Long].collect().toSet
    val qv = corpus.where(col("id") === 0L).select("vec").head().getSeq[Float](0).toArray
    val exactTop = VectorSearch.topK(corpus, "vec", qv, 10, col("id"))
      .select("id").as[Long].collect().toSet
    val recall = (sq8Top & exactTop).size / 10.0
    assert(recall >= 0.8, s"SQ8 recall@10 = $recall")
    q.unpersist()
  }

  test("SimHashSignature kernel == Seq[Float] UDF reference == driver signatureOf") {
    import graft.operators.VectorSearch
    val rng = new scala.util.Random(7)
    val vecs: Seq[Option[Seq[Float]]] =
      (0 until 50).map(_ => Some(Seq.fill(64)(rng.nextFloat() * 2 - 1))) ++
        Seq(
          None,                                     // null vector
          Some(Seq.fill(16)(rng.nextFloat())),      // shorter than dim
          Some(Seq.empty[Float]),                   // empty
          Some(Seq.fill(64)(0.0f))                  // all-zero (dot == 0 -> bit set)
        )
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.orNull) }.toDF("id", "vec")
    for ((nBits, dim, seed) <- Seq((16, 64, 42L), (6, 64, 42L + 7919L * 3), (8, 64, 99L))) {
      val lsh = VectorSearch.SimHashLsh(nBits = nBits, dim = dim, seed = seed)
      // the pre-r19 UDF form, verbatim
      val refUdf = udf { (v: Seq[Float]) => Option(v).map(lsh.signatureOf) }
      val rows = lsh.withSignature(df, "vec")
        .withColumn("ref", refUdf(col("vec")))
        .select("id", "sig", "ref", "vec")
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2), s"nBits=$nBits id=${r.getLong(0)} null mismatch")
        if (!r.isNullAt(1)) {
          assert(r.getLong(1) == r.getLong(2), s"nBits=$nBits id=${r.getLong(0)}")
          // and the driver-side probe signer agrees with the executor kernel
          val v = r.getAs[scala.collection.Seq[Float]]("vec")
          assert(lsh.signatureOf(v.toIndexedSeq) == r.getLong(1))
        }
      }
    }
  }

  test("each SimHash signer owns its planes: L seeds in one projection sign like their probes") {
    import graft.operators.VectorSearch
    val e = VectorFunctions.SimHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)), 8, 16, 7L)
    assert(e.planes eq e.planes, "planes are derived once per expression instance")
    assert(e.planes.length == 8 && e.planes.forall(_.length == 16))
    assert(e.planes(3)(5) == VectorFunctions.simhashPlane(7L, 3, 5))
    // banded signing: several seeds in ONE stage (what a shared last-key
    // memo would thrash on), in and out of whole-stage codegen
    val rng = new scala.util.Random(11)
    val df = (0 until 40).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))).toDF("id", "vec")
    val signers = (0 until 4).map(i => VectorSearch.SimHashLsh(nBits = 8, dim = 16, seed = 42L + 7919L * i))
    val signed = df.select(col("id") +: col("vec") +: signers.zipWithIndex.map { case (l, i) =>
      VectorFunctions.simhashSigCol(col("vec"), l.nBits, l.dim, l.seed).as(s"s$i")
    }: _*)
    for (wholeStage <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try signed.collect().foreach { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("vec").toIndexedSeq
        signers.indices.foreach(i => assert(r.getLong(2 + i) == signers(i).signatureOf(v), s"seed $i row ${r.getLong(0)}"))
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }
}
