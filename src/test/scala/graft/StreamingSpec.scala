package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.FtsIndex
import graft.pipeline.Pipeline
import graft.sources.CommitProtocol
import graft.streaming.StreamingIngest
import graft.util.SessionIndices

/** The watch ingest (`Cli process --watch`) and the batch body it shares
  * with `Pipeline.processDirectory`: exactly-once across restarts,
  * per-batch FTS extension, crash replay, and search during extension.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def mkPdf(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), s"%PDF-1.4\n$body".getBytes("UTF-8"))

  /** Run a watch on `in` until every file present is ingested, then stop
    * it; returns the files its micro-batches read.
    */
  private def watchOnce(ingest: StreamingIngest, in: String): Long = {
    val q = ingest.start(in)
    try { q.processAllAvailable(); q.recentProgress.map(_.numInputRows).sum }
    finally q.stop()
  }

  test("streaming ingest: exactly-once across restarts via checkpoint") {
    val base = Files.createTempDirectory("graft-stream").toString
    val in = s"$base/in"; val wh = s"$base/wh"
    Files.createDirectories(Paths.get(in))
    val cfg = GraftConfig(warehouseDir = wh)
    val ingest = new StreamingIngest(spark, cfg)
    val pipe = new Pipeline(spark, cfg)
    val mapper = new ObjectMapper()
    try {
      // the watch starts on an empty directory; a PDF dropped into it is
      // ingested and served by /search in keyword and vector mode
      val q = ingest.start(in)
      val server = new RestServer(spark, cfg).start(0)
      try {
        mkPdf(in, "EP001 Zeppelin Manual.pdf",
          "# Zeppelin Manual\n\nthe zeppelin hangar keeps airships moored between flights.")
        q.processAllAvailable()
        val client = HttpClient.newHttpClient()
        def titles(mode: String): Seq[String] = {
          val r = client.send(
            HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/search"))
              .POST(HttpRequest.BodyPublishers.ofString(
                s"""{"query":"zeppelin hangar airships","mode":"$mode","limit":5}""")).build(),
            HttpResponse.BodyHandlers.ofString())
          assert(r.statusCode == 200, r.body)
          val hits = mapper.readTree(r.body)
          (0 until hits.size).map(i => hits.get(i).get("document_title").asText)
        }
        assert(titles("keyword") == Seq("Zeppelin Manual"))
        assert(titles("vector").contains("Zeppelin Manual"))
      } finally { server.stop(0); q.stop() }
      val chunks1 = pipe.catalog.read("chunks").count()
      assert(pipe.catalog.read("documents").count() == 1 && chunks1 >= 1)

      // restart on the same checkpoint with one new file: the stream
      // offers only that file (the checkpoint is the file ledger)
      mkPdf(in, "EP002 Glider Notes.pdf", "# Glider Notes\n\nthermals lift gliders over the ridge.")
      assert(watchOnce(ingest, in) == 1L, "a restart must read only the new file")
      val docs = pipe.catalog.read("documents")
      assert(docs.count() == 2 && docs.select("id").distinct().count() == 2)
      assert(pipe.catalog.read("chunks").where(col("document_title") === "Zeppelin Manual")
        .count() == chunks1, "the first file's chunks must not re-append")

      // a NEW file carrying already-seen bytes: read by the stream, then
      // dropped by the ledger's content-hash anti-join
      Files.copy(Paths.get(in, "EP001 Zeppelin Manual.pdf"), Paths.get(in, "copy.pdf"))
      val chunks2 = pipe.catalog.read("chunks").count()
      assert(watchOnce(ingest, in) == 1L)
      assert(pipe.catalog.read("documents").count() == 2, "duplicate content must not re-ingest")
      assert(pipe.catalog.read("chunks").count() == chunks2)

      // the checkpoint lives in the warehouse: flush resets it with the
      // tables, and the next watch ingests the directory afresh
      assert(pipe.flush().contains("watch"))
      assert(watchOnce(ingest, in) == 3L)
      assert(pipe.catalog.read("documents").count() == 2)
    } finally pipe.flush()
  }

  test("streaming batches extend a live FTS index incrementally (no rebuild)") {
    val base = Files.createTempDirectory("graft-stream-fts").toString
    val in = s"$base/in"; val wh = s"$base/wh"
    Files.createDirectories(Paths.get(in))
    mkPdf(in, "a.pdf", "# A\n\ncatalyst optimizes logical plans before execution.")
    val cfg = GraftConfig(warehouseDir = wh)
    val ingest = new StreamingIngest(spark, cfg)
    val pipe = new Pipeline(spark, cfg)
    try {
      watchOnce(ingest, in)
      // batch 1 built the live index at the end of its ingest; this is a
      // cache HIT
      val idx1 = pipe.ftsIndex
      assert(FtsIndex.search(spark, idx1, "catalyst plans", 5).count() > 0)

      // batch 2 extends the LIVE index in place: a search through the same
      // key sees the new document without any invalidate/rebuild
      mkPdf(in, "b.pdf", "# B\n\ntungsten generates compact bytecode for expressions.")
      watchOnce(ingest, in)
      val idx2 = pipe.ftsIndex
      assert(idx2.numDocs == idx1.numDocs + 1, "cached index extended in place")
      assert(idx1.retained.isEmpty && idx2.retained.length == 2, "one new fragment, no rebuild")
      assert(FtsIndex.search(spark, idx2, "tungsten bytecode", 5).count() > 0)
    } finally pipe.flush()
  }

  test("crash-replay (chunks landed, ledger didn't, cold cache) does not double-count the FTS index") {
    val base = Files.createTempDirectory("graft-stream-crash").toString
    val in = s"$base/in"; val wh = s"$base/wh"
    Files.createDirectories(Paths.get(in))
    mkPdf(in, "c1.pdf", "# Crash\n\nexactly once semantics survive a replay after partial commit.")
    mkPdf(in, "c2.pdf", "# Replay\n\nthe ledger is written last so a rerun re-admits the batch.")
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    try {
      // attempt 1 commits the chunks...
      assert(pipe.processDirectory(in) == 2)
      val chunkCount = pipe.catalog.read("chunks").count()
      // ...then the crash window: the ledger append is not visible (drop
      // the table) and the process died (cold FTS cache)
      SessionIndices.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(wh, "documents").toFile)
      // the rerun re-admits both files
      assert(pipe.processDirectory(in) == 2)
      assert(pipe.catalog.read("chunks").count() == chunkCount,
        "replayed chunks must not re-append to the table")
      assert(pipe.catalog.read("chunks").select("id").distinct().count() == chunkCount)
      val ledger = pipe.catalog.read("documents")
      assert(ledger.count() == 2 && ledger.select("id").distinct().count() == 2)
      // the index covers the table's files, which hold each chunk once, so
      // stats are exact and every (doc, term) has exactly one postings row
      val idx = pipe.ftsIndex
      assert(idx.numDocs == chunkCount,
        s"index numDocs ${idx.numDocs} != table rows $chunkCount: batch double-counted on replay")
      val dup = idx.postings.groupBy("doc_id", "term").count().where(col("count") > 1).count()
      assert(dup == 0, "duplicated postings rows after crash-replay")
      SparkTestBase.assertFreshIndex(pipe, "ledger replay", "after the replay")

      // a batch that throws after its chunks append: c3 failed once, so its
      // re-admission rewrites the ledger through the commit protocol, which
      // dies before the swap
      val in3 = s"$base/in3"
      Files.createDirectories(Paths.get(in3))
      mkPdf(in3, "c3.pdf", "# Partial\n\na crashed batch leaves its chunks without ledger rows.")
      val tight = GraftConfig(warehouseDir = wh, extraction = ExtractionConfig(maxFileSizeMb = 0))
      assert(new Pipeline(spark, tight).processDirectory(in3) == 0)
      val ledgerDir = Paths.get(wh, "documents").toAbsolutePath
      val prev = CommitProtocol.current
      CommitProtocol.install(new CommitProtocol {
        def name: String = "dies-before-the-ledger-swap"
        def swapIn(target: java.nio.file.Path)(write: java.nio.file.Path => Unit): Unit =
          if (target.toAbsolutePath == ledgerDir) throw new RuntimeException("injected crash before the ledger swap")
          else prev.swapIn(target)(write)
      })
      try intercept[RuntimeException](pipe.processDirectory(in3))
      finally CommitProtocol.install(prev)
      assert(pipe.catalog.read("chunks").count() > chunkCount, "precondition: the crashed batch's chunks landed")
      SparkTestBase.assertFreshIndex(pipe, "crashed batch chunks ledger", "after a batch that threw after its chunks append")
      // its rerun appends only the ledger rows
      assert(pipe.processDirectory(in3) == 1)
      SparkTestBase.assertFreshIndex(pipe, "crashed batch chunks ledger", "after the crashed batch's rerun")
    } finally pipe.flush()
  }

  test("a search during streaming extension never observes a half-extended index") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-stream-concurrent").toString
    val pipe = new Pipeline(spark, GraftConfig(warehouseDir = wh))
    SparkTestBase.appendChunks(wh, ("0", "token0 shared"))
    pipe.ftsIndex
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the searcher hammers the index while batches land in the table and
    // extend it: every index it sees must be internally consistent (stats
    // match postings) and must contain a PREFIX of the batch sequence — a
    // half-extended state (stats bumped but postings missing, or vice
    // versa) fails both
    val searcher = new Thread(() => {
      try {
        while (!done.get()) {
          val idx = pipe.ftsIndex
          val ids = idx.postings.select("doc_id").distinct().as[String].collect().map(_.toLong).sorted.toSeq
          if (idx.numDocs != ids.length)
            errors.add(s"numDocs ${idx.numDocs} != ${ids.length} distinct postings docs")
          if (ids.nonEmpty && ids != (0L to ids.max))
            errors.add(s"non-prefix visible doc set $ids")
          // the real query path: every doc carries 'shared', so a BM25
          // search over a pre- or post-batch index returns exactly its
          // numDocs hits — a torn index (stats from one state, postings
          // from another) breaks the equality
          val hits = FtsIndex.search(spark, idx, "shared", 100).count()
          if (hits != idx.numDocs)
            errors.add(s"search saw $hits hits against an index claiming ${idx.numDocs} docs")
        }
      } catch { case e: Throwable => errors.add(s"searcher died: ${e.getMessage}") }
    })
    searcher.start()
    try {
      try (1 to 6).foreach { i =>
        SparkTestBase.appendChunks(wh, (i.toString, s"token$i shared"))
        pipe.ftsIndex
      } finally { done.set(true); searcher.join() }
      assert(pipe.ftsIndex.numDocs == 7, "all six batches extended the seed index")
      assert(errors.isEmpty, s"inconsistent index states observed: $errors")
    } finally pipe.flush()
  }
}
