package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Skew

class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("chunk_text generator works via LATERAL VIEW and matches flatMap chunking") {
    GraftExtensions.register(spark, ChunkingConfig(chunkSize = 128, chunkOverlap = 16))
    val md = "# Title\n\n" + (1 to 60).map(i => s"sentence number $i here. ").mkString
    Seq((1L, md), (2L, "# Tiny\nshort body")).toDF("doc_id", "text")
      .createOrReplaceTempView("docs_sql")

    val viaSql = spark.sql(
      """SELECT doc_id, c.chunk_index, c.total_chunks, c.is_section_start, c.section_h1, c.chunk_text
        |FROM docs_sql LATERAL VIEW chunk_text(text) c""".stripMargin)
    val rows = viaSql.collect()
    assert(rows.nonEmpty)

    val direct = graft.operators.Chunker.chunk(md, ChunkingConfig(chunkSize = 128, chunkOverlap = 16))
    val sqlDoc1 = rows.filter(_.getLong(0) == 1L).sortBy(_.getAs[Int]("chunk_index"))
    assert(sqlDoc1.length == direct.length)
    assert(sqlDoc1.map(_.getAs[String]("chunk_text")).toSeq == direct.map(_.text))
    assert(sqlDoc1.forall(_.getAs[String]("section_h1") == "Title"))

    // null text -> zero rows, no crash
    Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text").createOrReplaceTempView("nulldoc")
    assert(spark.sql("SELECT c.* FROM nulldoc LATERAL VIEW chunk_text(text) c").count() == 0)
  }

  test("chunk_text 3-arg form honors size/overlap literals") {
    GraftExtensions.register(spark)
    Seq((1L, ("word " * 300).trim)).toDF("doc_id", "text").createOrReplaceTempView("docs_sql3")
    val n128 = spark.sql("SELECT c.* FROM docs_sql3 LATERAL VIEW chunk_text(text, 128, 16) c").count()
    val n512 = spark.sql("SELECT c.* FROM docs_sql3 LATERAL VIEW chunk_text(text, 512, 50) c").count()
    assert(n128 > n512)
  }

  test("top_k_by is registered on the session surface (parity with GraftExtensions)") {
    GraftExtensions.register(spark)
    (1 to 50).map(i => (i % 5L, i.toDouble, i.toLong)).toDF("g", "s", "i")
      .createOrReplaceTempView("topk_sql")
    val rows = spark.sql(
      "SELECT g, transform(top_k_by(s, i, 2), x -> x.id) AS ids FROM topk_sql GROUP BY g ORDER BY g"
    ).collect()
    assert(rows.length == 5)
    // group 0: members 5,10,...,50 — top-2 by score are ids 50, 45
    assert(rows.head.getSeq[Long](1) == Seq(50L, 45L))
  }

  test("salted sum+count is bit-identical to the direct groupBy") {
    // one pathologically hot key, fractional values (decimal exactness)
    val df = (1 to 2000).map(i => (if (i % 10 == 0) "cold" + (i % 5) else "hot", i / 7.0))
      .toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum(col("v").cast("decimal(28,4)")).cast("double").as("value_sum"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSumCount(df, Seq("k"), col("v"), salt = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(direct == salted)
  }

  test("carrying a unique column through the salted input restores spread, stays exact") {
    // byte-identical rows (key + constant value): content salting alone
    // puts them all in ONE bucket (zero spread — the documented caveat);
    // carrying a unique id column through the aggregation input spreads
    // them (all input columns feed the salt hash) without reaching the
    // output, which is shaped by the grouping keys alone. The contract
    // under test: the result is exact either way and identically shaped.
    val df = (1L to 1200L).map(i => ("hot", 1.0, i)).toDF("k", "v", "uid")
    val expected = ("hot", 1200.0, 1200L)
    Seq(df.select("k", "v"), df).foreach { input =>
      val r = Skew.saltedSumCount(input, Seq("k"), col("v"), salt = 8).collect().head
      assert((r.getString(0), r.getDouble(1), r.getLong(2)) == expected,
        s"columns=${input.columns.mkString(",")}")
    }
  }
}
