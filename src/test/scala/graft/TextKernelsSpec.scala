package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, TextAnalysis}

/** The shingle / gram-digest Catalyst kernels must be bit-identical to the
  * interpreted higher-order-function trees they replaced (round-19
  * optimization): same grams, same order, same digests, same empty/null
  * handling. The old trees are reproduced here verbatim as the reference.
  */
class TextKernelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The pre-round-19 Dedup.shingles tree, verbatim. */
  private def shinglesRef(text: Column, k: Int): Column =
    shinglesOver(split(Dedup.normalized(text), " "), k)

  /** Its shingle half over an already-split word array. */
  private def shinglesOver(words: Column, k: Int): Column =
    TextFunctions.bindOnce(words, w =>
      array_distinct(
        filter(
          transform(
            sequence(lit(0), greatest(size(w) - k, lit(0))),
            i => when(size(w) >= k, concat_ws(" ", slice(w, i + 1, lit(k))))
          ),
          s => s.isNotNull
        )
      ))

  /** The pre-round-19 TextAnalysis.wordGrams tree, verbatim. */
  private def wordGramsRef(text: Column, n: Int): Column =
    gramsRef(split(Dedup.normalized(text), " "), n)

  /** Its gram half over an already-split word array. */
  private def gramsRef(words: Column, n: Int): Column = {
    val wordsExpr = TextFunctions.bindOnce(words, w => filter(w, t => length(t) > 0))
    TextFunctions.bindOnce(
      wordsExpr,
      w =>
        when(
          size(w) >= n,
          transform(
            sequence(lit(1), size(w) - (n - 1)),
            i =>
              conv(substring(md5(array_join(slice(w, i, lit(n)), " ")), 1, 15), 16, 10)
                .cast("long")
          )
        ).otherwise(array().cast("array<long>"))
    )
  }

  private val texts: Seq[Option[String]] = Seq(
    None,
    Some(""),
    Some("   "),
    Some("one"),
    Some("one two"),
    Some("one two three"),
    Some("a b c d e f g h"),
    Some("A  B\tC\nD "),                       // case folding + ws collapse
    Some("x y x y x y x y"),                   // repeated grams (distinct path)
    Some("déjà vu déjà vu naïve café"),        // multi-byte UTF-8
    Some("the quick brown fox jumps over the lazy dog the quick brown fox"),
    Some((1 to 40).map(i => s"w${i % 7}").mkString(" "))
  )

  private lazy val df =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")

  test("WordShingles kernel == interpreted HOF tree (k = 1, 2, 3, 8)") {
    for (k <- Seq(1, 2, 3, 8)) {
      val rows = df
        .select(
          col("id"),
          Dedup.shingles(col("text"), k).as("neu"),
          shinglesRef(col("text"), k).as("ref"))
        .collect()
      rows.foreach { r =>
        val neu = r.getAs[scala.collection.Seq[String]]("neu").toSeq
        val ref = r.getAs[scala.collection.Seq[String]]("ref").toSeq
        assert(neu == ref, s"k=$k id=${r.getLong(0)}: $neu != $ref")
      }
    }
  }

  test("WordGramDigests kernel == interpreted HOF tree (n = 1, 2, 3)") {
    for (n <- Seq(1, 2, 3)) {
      val rows = df
        .select(
          col("id"),
          TextAnalysis.wordGrams(col("text"), n).as("neu"),
          wordGramsRef(col("text"), n).as("ref"))
        .collect()
      rows.foreach { r =>
        val neu = r.getAs[scala.collection.Seq[Long]]("neu").toSeq
        val ref = r.getAs[scala.collection.Seq[Long]]("ref").toSeq
        assert(neu == ref, s"n=$n id=${r.getLong(0)}: $neu != $ref")
      }
    }
  }

  test("trainBigramLm one-pass (tagged digests) == two-pass reference") {
    val uniRef = df
      .select(explode(TextAnalysis.wordGrams(col("text"), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt1"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val biRef = df
      .select(explode(TextAnalysis.wordGrams(col("text"), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val lm = TextAnalysis.trainBigramLm(df, "text")
    val uni = lm.uni.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bi = lm.bi.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(uni == uniRef)
    assert(bi == biRef)
    // the tag bit never leaks: every digest is below 2^60
    assert((uni.keySet ++ bi.keySet).forall(_ < (1L << 60)))
  }

  test("LmTokenStream kernel == interpreted reference tree") {
    def tokStreamRef(text: Column): Column =
      TextFunctions.bindOnce(
        TextAnalysis.wordGrams(text, 1),
        wd =>
          TextFunctions.bindOnce(
            TextAnalysis.wordGrams(text, 2),
            pd =>
              when(
                size(wd) >= 1,
                transform(
                  sequence(lit(1), size(wd)),
                  i =>
                    struct(
                      element_at(wd, i).as("w"),
                      when(i > 1, element_at(wd, i - 1)).as("prev"),
                      when(i > 1, element_at(pd, i - 1)).as("pair"))
                )
              ).otherwise(
                array().cast("array<struct<w:long,prev:long,pair:long>>"))
          )
      )
    import org.apache.spark.sql.graftbridge
    val neuCol = graftbridge.column(
      graft.plans.LmTokenStream(
        graftbridge.expression(split(Dedup.normalized(col("text")), " "))))
    val rows = df
      .select(col("id"), posexplode(neuCol))
      .select(col("id"), col("pos"), col("col.w"), col("col.prev"), col("col.pair"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2), r.get(3), r.get(4))).toSet
    val ref = df
      .select(col("id"), posexplode(tokStreamRef(col("text"))))
      .select(col("id"), col("pos"), col("col.w"), col("col.prev"), col("col.pair"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2), r.get(3), r.get(4))).toSet
    assert(rows == ref)
  }

  test("bucketedGrams in-kernel modulo == transform reference") {
    import graft.operators.ImportanceSampling
    for ((n, b) <- Seq((1, 31), (2, 4096))) {
      val rows = df
        .select(
          col("id"),
          ImportanceSampling.bucketedGrams(col("text"), n, b).as("neu"),
          transform(TextAnalysis.wordGrams(col("text"), n), d => d % b).as("ref"))
        .collect()
      rows.foreach { r =>
        val neu = r.getAs[scala.collection.Seq[Long]]("neu").toSeq
        val ref = r.getAs[scala.collection.Seq[Long]]("ref").toSeq
        assert(neu == ref, s"n=$n b=$b id=${r.getLong(0)}: $neu != $ref")
      }
    }
  }

  test("NonEmptyStrings kernel == filter HOF (incl. null propagation)") {
    import org.apache.spark.sql.graftbridge
    val neu = graftbridge.column(
      graft.plans.NonEmptyStrings(
        graftbridge.expression(split(lower(col("text")), "[^a-z0-9]+"))))
    val ref = filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0)
    val rows = df.select(col("id"), neu.as("neu"), ref.as("ref")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"id=${r.getLong(0)} null mismatch")
      if (!r.isNullAt(1))
        assert(
          r.getAs[scala.collection.Seq[String]]("neu").toSeq ==
            r.getAs[scala.collection.Seq[String]]("ref").toSeq,
          s"id=${r.getLong(0)}")
    }
  }

  test("null and empty words: kernels == HOF forms under CODEGEN_ONLY and NO_CODEGEN") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans._

    val arrays: Seq[Seq[String]] = Seq(
      Seq("a", null, "", "b"),
      Seq(null),
      Seq("", null, ""),
      Seq(null, "x", null, "y", "z"),
      Seq("déjà", null, "vu", "", "déjà", "vu"),
      Seq.empty)
    // the HOF forms, evaluated by Spark
    val hof = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "words")
      .select(
        col("id"),
        filter(col("words"), t => length(t) > 0).as("ne"),
        gramsRef(col("words"), 1).as("g1"),
        gramsRef(col("words"), 2).as("g2"),
        gramsRef(col("words"), 3).as("g3"),
        shinglesOver(col("words"), 2).as("sh"))
      .orderBy("id").collect()
      .map(r => (r.getSeq[String](1), r.getSeq[Long](2), r.getSeq[Long](3), r.getSeq[Long](4),
        r.getSeq[String](5)))

    val in = BoundReference(0, ArrayType(StringType, containsNull = true), nullable = false)
    val exprs: Seq[Expression] = Seq(
      NonEmptyStrings(in), WordGramDigests(in, 1), WordGramDigests(in, 2), WordGramDigests(in, 3),
      UniBiGramDigests(in), LmTokenStream(in), WordShingles(in, 2))
    val modeKey = "spark.sql.codegen.factoryMode"
    val prevMode = spark.conf.getOption(modeKey)
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    try {
      for ((mode, generated) <- Seq("CODEGEN_ONLY" -> true, "NO_CODEGEN" -> false)) {
        spark.conf.set(modeKey, mode)
        val proj = UnsafeProjection.create(exprs)
        assert(proj.getClass.getName.contains("Interpreted") != generated,
          s"$mode built ${proj.getClass.getName}")
        arrays.zip(hof).foreach { case (a, (ne, g1, g2, g3, sh)) =>
          val row = proj(org.apache.spark.sql.catalyst.InternalRow(
            new GenericArrayData(a.map(w => if (w == null) null else UTF8String.fromString(w)).toArray)))
          def longs(i: Int): Seq[Long] = row.getArray(i).toLongArray().toSeq
          val ctx = s"$mode ${a.map(String.valueOf)}"
          assert(row.getArray(0).toSeq[UTF8String](StringType).map(_.toString) == ne, ctx)
          assert(longs(1) == g1 && longs(2) == g2 && longs(3) == g3, ctx)
          assert(longs(4) == g1 ++ g2.map(_ | TextKernels.BiTag), ctx)
          val stream = row.getArray(5)
          val got = (0 until stream.numElements()).map { i =>
            val t = stream.getStruct(i, 3)
            (t.getLong(0), if (t.isNullAt(1)) None else Some(t.getLong(1)),
              if (t.isNullAt(2)) None else Some(t.getLong(2)))
          }
          val want = g1.indices.map(i =>
            (g1(i), if (i > 0) Some(g1(i - 1)) else None, if (i > 0) Some(g2(i - 1)) else None))
          assert(got == want, ctx)
          assert(row.getArray(6).toSeq[UTF8String](StringType).map(_.toString) == sh, ctx)
        }
      }
    } finally prevMode match {
      case Some(m) => spark.conf.set(modeKey, m)
      case None => spark.conf.unset(modeKey)
    }
  }

  test("kernels agree between codegen and interpreted eval paths") {
    def run(): Seq[(Seq[String], Seq[Long])] =
      df.select(
          Dedup.shingles(col("text"), 3).as("sh"),
          TextAnalysis.wordGrams(col("text"), 2).as("g"))
        .collect()
        .map(r => (
          r.getAs[scala.collection.Seq[String]]("sh").toSeq,
          r.getAs[scala.collection.Seq[Long]]("g").toSeq)).toSeq
    val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFb = spark.conf.get("spark.sql.codegen.fallback")
    // fallback=false turns a silent Janino failure (which would quietly
    // interpret) into a test failure — proving doGenCode really compiles
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val on = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val off = run()
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      spark.conf.set("spark.sql.codegen.fallback", prevFb)
    }
  }
}
