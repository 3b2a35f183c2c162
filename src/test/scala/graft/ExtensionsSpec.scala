package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class ExtensionsSpec extends AnyFunSuite {

  /** All six graft SQL functions answer on `spark`. */
  private def answersAll(spark: SparkSession): Unit = {
    val c = spark.sql("SELECT cosine_sim(array(1.0F,0.0F), array(1.0F,0.0F)) AS c").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val n = spark.sql(
      "SELECT c.* FROM (SELECT 'word word word' AS t) LATERAL VIEW chunk_text(t, 8, 2) c"
    ).count()
    assert(n > 1)
    val topk = spark.sql(
      """SELECT g, transform(top_k_by(s, i, 2), x -> x.id) AS ids
        |FROM VALUES (1, 5.0D, 10L), (1, 7.0D, 11L), (1, 6.0D, 12L) AS t(g, s, i)
        |GROUP BY g""".stripMargin
    ).head().getSeq[Long](1)
    assert(topk == Seq(11L, 12L))
    val ld = spark.sql(
      "SELECT long_dot(array(3L,-2L), array(10L,4L)) AS d, long_sq_dist(array(1L,5L), array(4L,1L)) AS s"
    ).head()
    assert(ld.getLong(0) == 22L && ld.getLong(1) == 25L)
    // zorder2: interleave(3, 1) = (spread(3)=0b101) | (spread(1)=0b1)<<1 = 0b111
    val z = spark.sql("SELECT zorder2(3, 1) AS z, zorder2(65535, 65535) AS zmax").head()
    assert(z.getLong(0) == 7L && z.getLong(1) == 0xFFFFFFFFL, z.toString)
    // 3-arg form with a non-literal arg must fail cleanly, not with an
    // internal eval error
    val err = intercept[Exception] {
      spark.sql("SELECT c.* FROM (SELECT 'w w' AS t, 8 AS s) LATERAL VIEW chunk_text(t, s + s, 2) c").collect()
    }
    assert(err.getMessage.contains("chunk_text"), s"unexpected: ${err.getMessage}")
  }

  test("GraftExtensions installs cosine_sim and chunk_text for SQL") {
    // getOrCreate would silently reuse an existing default session (and
    // skip extensions), so make this session guaranteed-fresh: newSession
    // isolation isn't enough — extensions apply only at build time.
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try answersAll(spark)
    finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("a session set up the way GraftSession.getOrCreate and Cli.attachSql do it answers all six functions") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ext-wh").toString
    answersAll { val s = SparkTestBase.spark.newSession(); GraftExtensions.register(s); s }
    answersAll { val s = SparkTestBase.spark.newSession(); Cli.attachSql(s, GraftConfig(warehouseDir = wh)); s }
  }
}
