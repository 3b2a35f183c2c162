package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sketches

class SketchesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("kmv is exact below k") {
    val df = spark.range(100).select(col("id").as("v"))
    val row = Sketches.kmvDistinct(df, "v", k = 256).head()
    assert(row.getAs[Long]("k_used") == 100L)
    assert(row.getAs[Double]("kmv_estimate") == 100.0)
  }

  test("kmv estimate lands within 3 standard errors at n >> k") {
    val n = 20000
    val k = 256
    val df = spark.range(n).select(concat(lit("doc-"), col("id")).as("v"))
    val est = Sketches.kmvDistinct(df, "v", k).head().getAs[Double]("kmv_estimate")
    // KMV relative standard error ~ 1/sqrt(k-2)
    val se = n / math.sqrt(k - 2)
    assert(math.abs(est - n) < 3 * se, s"estimate $est too far from $n (3se=${3 * se})")
  }

  test("kmv ignores duplicates and nulls") {
    val df = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq(null, null))
      .toDF("v")
    val row = Sketches.kmvDistinct(df, "v", k = 16).head()
    assert(row.getAs[Long]("k_used") == 2L)
    assert(row.getAs[Double]("kmv_estimate") == 2.0)
  }

  test("kmv is deterministic across repartitionings") {
    val df = spark.range(5000).select(concat(lit("x"), col("id")).as("v"))
    val a = Sketches.kmvDistinct(df.repartition(3), "v", 64).head()
    val b = Sketches.kmvDistinct(df.repartition(17), "v", 64).head()
    assert(a == b)
  }

  test("grouped kmv matches per-group single kmv and is exact below k") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(3000).select(
      (col("id") % 3).cast("string").as("g"),
      // group "0": 1000 distinct; "1": 10 distinct; "2": 500 distinct
      when(col("id") % 3 === 0, col("id"))
        .when(col("id") % 3 === 1, col("id") % 30)
        .otherwise(col("id") % 1500).as("v")
    )
    val grouped = Sketches.kmvDistinctBy(df, Seq("g"), "v", k = 64)
      .collect().map(r => r.getString(0) -> r).toMap
    // small group is exact
    assert(grouped("1").getAs[Long]("k_used") == 10L)
    assert(grouped("1").getAs[Double]("kmv_estimate") == 10.0)
    // each group's sketch equals running single-column kmv on that slice
    for (g <- Seq("0", "2")) {
      val single = Sketches.kmvDistinct(df.where(col("g") === g), "v", k = 64).head()
      assert(grouped(g).getAs[Long]("kth_hash") == single.getAs[Long]("kth_hash"), s"group $g")
      assert(grouped(g).getAs[Double]("kmv_estimate") == single.getAs[Double]("kmv_estimate"))
    }
  }

  test("hll estimate lands within 3 standard errors; duplicates and nulls ignored") {
    val n = 20000
    val p = 12
    val df = spark.range(n).select(concat(lit("doc-"), col("id")).as("v"))
      .unionAll(spark.range(500).select(concat(lit("doc-"), col("id")).as("v"))) // dups
      .unionAll(Seq[String](null).toDF("v"))
    val est = Sketches.hllDistinct(df, "v", p).head().getAs[Double]("hll_estimate")
    // HLL relative standard error ~ 1.04/sqrt(m)
    val se = n * 1.04 / math.sqrt((1 << p).toDouble)
    assert(math.abs(est - n) < 3 * se, s"estimate $est too far from $n (3se=${3 * se})")
  }

  test("hll is deterministic across repartitionings and merge == whole") {
    val a = spark.range(4000).select(concat(lit("x"), col("id")).as("v"))
    val b = spark.range(2000, 7000).select(concat(lit("x"), col("id")).as("v"))
    val whole = Sketches.hllDistinct(a.unionAll(b).repartition(13), "v", p = 9).head()
    // the register table is mergeable: the bucket-wise MAX of two shards'
    // tables is the table of their union
    val merged = Sketches.hllEstimate(
      Sketches.hllRegisters(a.repartition(3), "v", p = 9)
        .unionByName(Sketches.hllRegisters(b.repartition(5), "v", p = 9))
        .groupBy("idx").agg(max("r").as("r")),
      p = 9).head()
    assert(whole == merged)
  }

  test("hllCardinality: linear counting rescues the small range the raw estimator floors on") {
    val df = spark.range(100).select(concat(lit("u"), col("id")).as("v"))
    val row = Sketches.hllDistinct(df, "v", p = 12).head()
    val raw = row.getAs[Double]("hll_estimate")
    assert(raw > 1000.0, s"raw estimator should floor near alpha*m here, got $raw")
    val corrected = SketchesSpec.hllCardinality(
      row.getAs[Long]("n_zero"), row.getAs[Long]("sum_scaled"), p = 12)
    assert(math.abs(corrected - 100.0) < 10.0, s"corrected $corrected too far from 100")
  }

  test("hll guards: mismatched-p registers fail loudly; reserved grouping keys rejected") {
    val regs = Sketches.hllRegisters(
      spark.range(3000).select(concat(lit("v"), col("id")).as("v")), "v", p = 12)
    // estimating a p=12 table at p=9 must raise, not return a wrong number
    val e = intercept[Exception] {
      Sketches.hllEstimate(regs, p = 9).collect()
    }
    assert(e.getMessage != null)
    intercept[IllegalArgumentException] {
      Sketches.hllDistinctBy(spark.range(5).select(col("id").as("idx"), col("id").as("v")),
        Seq("idx"), "v")
    }
  }

  test("grouped hll matches per-group single hll") {
    val df = spark.range(3000).select(
      (col("id") % 3).cast("string").as("g"),
      when(col("id") % 3 === 0, col("id"))
        .when(col("id") % 3 === 1, col("id") % 30)
        .otherwise(col("id") % 1500).as("v")
    )
    val grouped = Sketches.hllDistinctBy(df, Seq("g"), "v", p = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- Seq("0", "1", "2")) {
      val single = Sketches.hllDistinct(df.where(col("g") === g), "v", p = 8).head()
      assert(grouped(g).getAs[Long]("sum_scaled") == single.getAs[Long]("sum_scaled"), s"group $g")
      assert(grouped(g).getAs[Double]("hll_estimate") == single.getAs[Double]("hll_estimate"))
    }
  }

  test("histogram quantile lands within one bin width of the exact percentile") {
    val n = 10000
    val df = spark.range(n).select((col("id") % 1000).cast("double").as("v"))
    val out = Sketches
      .histogramQuantile(df, "v", lo = 0.0, hi = 1000.0, nBins = 100, quantiles = Seq(0.5, 0.9))
      .collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Double]("estimate"))
      .toMap
    // exact p50 of 0..999 uniform is ~499.5; p90 ~899; bin width 10
    assert(math.abs(out(0.5) - 499.5) <= 10.0, out.toString)
    assert(math.abs(out(0.9) - 899.1) <= 10.0, out.toString)
    // total row count carried through
    val n2 = Sketches
      .histogramQuantile(df, "v", 0.0, 1000.0, 100, Seq(0.5))
      .head().getAs[Long]("n")
    assert(n2 == n)
  }

  test("histogram quantile: out-of-range rows excluded; q=1 hits the last occupied bin") {
    val df = (Seq.fill(90)(5.0) ++ Seq.fill(10)(95.0) ++ Seq(-1.0, 200.0)).toDF("v")
    val out = Sketches
      .histogramQuantile(df, "v", lo = 0.0, hi = 100.0, nBins = 10, quantiles = Seq(0.5, 1.0))
      .collect()
      .map(r => (r.getAs[Double]("q"), r.getAs[Long]("n"), r.getAs[Double]("estimate")))
    assert(out.forall(_._2 == 100L), s"out-of-range rows must not count: ${out.toSeq}")
    assert(out.find(_._1 == 0.5).get._3 == 5.0)
    assert(out.find(_._1 == 1.0).get._3 == 95.0)
  }

  test("count-min: never undercounts, exact at generous width, sketches merge") {
    val rnd = new scala.util.Random(5)
    val values = (1 to 2000).map(_ => s"v${rnd.nextInt(50)}")
    val df = values.toDF("v")
    val exact = values.groupBy(identity).map { case (k, vs) => (k, vs.size.toLong) }
    val keys = exact.keys.toSeq.toDF("v")

    // tight sketch (collisions likely): estimates are >= truth, always
    val tight = Sketches.countMin(df, "v", width = 16, depth = 4)
    val estT = Sketches.countMinEstimate(tight, keys, "v", width = 16, depth = 4)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("est")).toMap
    exact.foreach { case (k, n) => assert(estT(k) >= n, s"$k: est ${estT(k)} < true $n") }

    // generous width (50 distinct into 4x4096): collisions in all 4 rows
    // are vanishingly unlikely -> exact
    val wide = Sketches.countMin(df, "v", width = 4096, depth = 4)
    val estW = Sketches.countMinEstimate(wide, keys, "v", width = 4096, depth = 4)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Long]("est")).toMap
    assert(estW == exact.toMap, "4x4096 over 50 keys must be collision-free")

    // mergeability: sketch(A) + sketch(B) bucket-wise == sketch(A ∪ B)
    val (a, b) = values.splitAt(900)
    val merged = Sketches.countMin(a.toDF("v"), "v", 16, 4)
      .unionByName(Sketches.countMin(b.toDF("v"), "v", 16, 4))
      .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
    val whole = Sketches.countMin(df, "v", 16, 4)
    assert(merged.orderBy("row", "bucket").collect().toSeq ==
      whole.orderBy("row", "bucket").collect().toSeq)

    // missing key estimates 0 unless its buckets collide — use a generous
    // width so all rows are empty for it
    val missing = Sketches.countMinEstimate(wide, Seq("never-seen").toDF("v"), "v", 4096, 4)
      .head().getAs[Long]("est")
    assert(missing == 0L)
  }

  test("grouped histogram quantile: per-group answers match the global form per slice") {
    val df = ((1 to 900).map(i => ("a", i.toDouble)) ++
      (1 to 100).map(i => ("b", i * 10.0))).toDF("g", "v")
    val grouped = Sketches
      .histogramQuantileBy(df, Seq("g"), "v", lo = 0.0, hi = 1000.0, nBins = 100,
        quantiles = Seq(0.5, 0.95))
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("q")) -> r.getAs[Double]("estimate"))
      .toMap
    for (g <- Seq("a", "b"); q <- Seq(0.5, 0.95)) {
      val solo = Sketches
        .histogramQuantile(df.where(col("g") === g), "v", 0.0, 1000.0, 100, Seq(q))
        .head().getAs[Double]("estimate")
      assert(grouped((g, q)) == solo, s"group $g q=$q: ${grouped((g, q))} vs solo $solo")
    }
    // group with no in-range rows yields no rows
    val out = Sketches.histogramQuantileBy(
      df.withColumn("v", when(col("g") === "b", -1.0).otherwise(col("v"))),
      Seq("g"), "v", 0.0, 1000.0, 100, Seq(0.5))
    assert(out.where(col("g") === "b").count() == 0)
  }

  test("kmvOverlap is EXACT when both groups fit inside k") {
    // A = {1..40}, B = {21..60}: |A ∩ B| = 20, |A ∪ B| = 60 -> J = 1/3.
    // With k = 64 > 60 the union sketch holds every hash, so the
    // estimator degenerates to the exact Jaccard.
    val rows = (1 to 40).map(v => ("A", s"v$v")) ++ (21 to 60).map(v => ("B", s"v$v"))
    val out = Sketches.kmvOverlap(rows.toDF("g", "v"), "g", "v", k = 64).head()
    assert(out.getAs[Long]("k_used") == 60L)
    assert(out.getAs[Long]("inter_cnt") == 20L)
    assert(out.getAs[Long]("jaccard_fp") == 20L * 1000000L / 60L)
  }

  test("kmvOverlap approximates large overlaps and is partition-invariant") {
    val rows = (1 to 2000).map(v => ("A", s"x$v")) ++
      (1001 to 3000).map(v => ("B", s"x$v")) ++
      (9001 to 9500).map(v => ("C", s"x$v"))
    val df = rows.toDF("g", "v")
    val got = Sketches.kmvOverlap(df, "g", "v", k = 128)
      .collect()
      .map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) -> r.getAs[Long]("jaccard_fp"))
      .toMap
    // true J(A,B) = 1000/3000 = 0.333; sketch error ~ 1/sqrt(128) = 0.09
    assert(math.abs(got(("A", "B")) / 1e6 - 1.0 / 3) < 0.15, got.toString)
    // C is disjoint from both: a few spurious sketch hits are impossible
    // (hashes of distinct values collide with prob ~ 1e-7 here)
    assert(got(("A", "C")) == 0L && got(("B", "C")) == 0L)
    val rep = Sketches.kmvOverlap(df.repartition(13), "g", "v", k = 128)
      .collect()
      .map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) -> r.getAs[Long]("jaccard_fp"))
      .toMap
    assert(rep == got)
  }
}

object SketchesSpec {

  /** The small-range-corrected HLL cardinality of one estimate row
    * (Flajolet et al. 2007): the raw harmonic-mean estimate, unless it
    * falls below 2.5m with untouched registers — then linear counting
    * `m * ln(m / n_zero)`.
    */
  def hllCardinality(nZero: Long, sumScaled: Long, p: Int): Double = {
    val m = (1L << p).toDouble
    val raw = Sketches.hllAlphaNumerator(p) / sumScaled
    if (raw <= 2.5 * m && nZero > 0L) m * math.log(m / nZero) else raw
  }
}
