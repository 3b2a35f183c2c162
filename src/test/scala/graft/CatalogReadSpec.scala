package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Pipeline, Retriever}
import graft.sources.Catalog

/** The read contract of [[Catalog.read]]: an unchanged table resolves
  * once, every write shows on the next read whoever makes it.
  */
class CatalogReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import SparkTestBase.jobsDuring
  import SparkTestBase.spark.implicits._

  private def ids(c: Catalog): Seq[Long] =
    c.read("t").select("id").as[Long].collect().toSeq.sorted

  test("a repeated read of an unchanged table starts no Spark job") {
    val cat = new Catalog(spark, Files.createTempDirectory("graft-cat").toString)
    cat.append(spark.range(10).toDF("id"), "t")
    val first = cat.read("t")
    assert(jobsDuring((1 to 3).foreach(_ => cat.read("t"))) == 0L)
    assert(cat.read("t") eq first)
  }

  test("writes through a second Catalog on the same warehouse show on the next read") {
    val wh = Files.createTempDirectory("graft-cat").toString
    val reader = new Catalog(spark, wh)
    val writer = new Catalog(spark, wh)
    writer.append(spark.range(0, 3).toDF("id"), "t")
    assert(ids(reader) == Seq(0L, 1L, 2L))
    writer.append(spark.range(3, 5).toDF("id"), "t")
    assert(ids(reader) == (0L until 5L))
    writer.deleteWhere("t", col("id") < 2)
    assert(ids(reader) == (2L until 5L))
    writer.overwrite(spark.range(7, 9).toDF("id"), "t")
    assert(ids(reader) == Seq(7L, 8L))
    writer.flush()
    intercept[AnalysisException](reader.read("t"))
    writer.append(spark.range(20, 21).toDF("id"), "t")
    assert(ids(reader) == Seq(20L))
  }

  test("a parquet file put straight into the table directory shows on the next read") {
    val wh = Files.createTempDirectory("graft-cat").toString
    val cat = new Catalog(spark, wh)
    cat.append(spark.range(0, 2).toDF("id"), "t")
    assert(ids(cat) == Seq(0L, 1L))
    val staged = Files.createTempDirectory("graft-cat-staged").resolve("out")
    spark.range(5, 6).toDF("id").write.parquet(staged.toString)
    val parts = Files.list(staged)
    try parts.filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(p => Files.move(p, Paths.get(wh, "t", "direct-" + p.getFileName)))
    finally parts.close()
    assert(ids(cat) == Seq(0L, 1L, 5L))
  }

  test("keyword searches in a row leave the resident FTS postings loaded, not rebuilt") {
    val base = Files.createTempDirectory("graft-cat-fts").toString
    val pdfDir = s"$base/pdfs"
    Files.createDirectories(Paths.get(pdfDir))
    Seq("EP001 Widget" -> "the widget manual describes gears and sprockets.",
      "EP002 Gadget" -> "the gadget handbook covers springs and levers.").foreach {
      case (name, body) =>
        Files.write(Paths.get(pdfDir, s"$name.pdf"), s"%PDF-1.4\n# $name\n\n$body".getBytes("UTF-8"))
    }
    val cfg = GraftConfig(warehouseDir = s"$base/warehouse")
    val pipe = new Pipeline(spark, cfg)
    pipe.processDirectory(pdfDir)
    val retriever = new Retriever(spark, pipe, cfg)
    // resident postings are pinned: every partition of each pinned RDD
    // holds its blocks
    def pins = graft.util.Checkpoints.pinnedRddIds(pipe.ftsIndex.postings)
    def loaded(ids: Set[Int]): Boolean = {
      val stored = spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      ids.nonEmpty && stored.length == ids.size && stored.forall(i => i.numCachedPartitions == i.numPartitions)
    }

    assert(retriever.keywordSearch("widget gears", 3).count() > 0)
    val built = pipe.ftsIndex
    val pinned = pins
    assert(loaded(pinned), "the FTS postings are not loaded")
    assert(retriever.keywordSearch("gadget springs", 3).count() > 0)
    assert((pipe.ftsIndex eq built) && pins == pinned, "the second search rebuilt the postings")
    assert(loaded(pinned))
  }

  test("keyword and hybrid search follow another writer's appended files and rewrite of the served chunks table") {
    import graft.operators.{FtsIndex, HybridSearch}
    val base = Files.createTempDirectory("graft-cat-xproc").toString
    def pdfs(dir: String, docs: (String, String)*): String = {
      Files.createDirectories(Paths.get(dir))
      docs.foreach { case (name, body) =>
        Files.write(Paths.get(dir, s"$name.pdf"), s"%PDF-1.4\n# $name\n\n$body".getBytes("UTF-8"))
      }
      dir
    }
    val cfg = GraftConfig(warehouseDir = s"$base/served")
    val pipe = new Pipeline(spark, cfg)
    val other = new Pipeline(spark, GraftConfig(warehouseDir = s"$base/other"))
    val q = "sprockets gears widget"
    try {
      pipe.processDirectory(pdfs(s"$base/a",
        "EP001 Widget" -> "the widget manual describes gears and sprockets.",
        "EP002 Gadget" -> "the gadget handbook covers springs and levers."))
      val retriever = new Retriever(spark, pipe, cfg)
      assert(retriever.keywordSearch("widget gears", 3).count() > 0, "precondition: the resident index is built")

      def pairs(df: org.apache.spark.sql.DataFrame, score: String): Seq[(String, Double)] =
        df.select(col("id"), col(score)).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      /** keyword and hybrid through the served Retriever against a fresh
        * build over the table.
        */
      def check(what: String): Seq[(String, Double)] = {
        val fresh = FtsIndex.build(pipe.catalog.read("chunks"), "id", "text")
        try {
          val kw = FtsIndex.search(spark, fresh, q, 5).withColumnRenamed("doc_id", "id")
          val hybrid = HybridSearch.rrf(retriever.vectorSearch(q, 5), kw, "id", "score", 5, cfg.search.rrfK)
          val served = pairs(retriever.keywordSearch(q, 5), "score")
          assert(served == pairs(kw, "score"), s"keyword $what")
          assert(pairs(retriever.hybridSearch(q, 5), "score") == pairs(hybrid, "rrf_score"), s"hybrid $what")
          served
        } finally fresh.postings.unpersist()
      }

      // (a) another warehouse's ingest writes a third document; its part
      // files land in the served tables, as another process's append would
      other.processDirectory(pdfs(s"$base/b", "EP003 Sprocket" -> "sprockets mesh with widget gears in the gearbox."))
      Seq("chunks", "documents").foreach { t =>
        val parts = Files.list(Paths.get(base, "other", t))
        try parts.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => Files.move(p, Paths.get(base, "served", t, "xproc-" + p.getFileName)))
        finally parts.close()
      }
      val sprocket = pipe.catalog.read("documents").where(col("title") === "Sprocket")
        .select("id").as[String].collect().toSeq match { case Seq(id) => id }
      val chunkIds = pipe.catalog.read("chunks").where(col("document_id") === sprocket).select("id").as[String].collect().toSet
      assert(check("after another writer's append").exists(h => chunkIds(h._1)),
        "keyword search must find the document another writer appended")

      // (b) a second Catalog rewrites the chunks table without one document
      val widget = pipe.catalog.read("documents").where(col("title") === "Widget")
        .select("id").as[String].collect().head
      new Catalog(spark, s"$base/served").deleteWhere("chunks", col("document_id") === widget)
      val afterDelete = check("after another writer's rewrite")
      assert(afterDelete.nonEmpty && pipe.ftsIndex.numDocs == pipe.catalog.read("chunks").count())
    } finally { pipe.flush(); other.flush() }
  }
}
