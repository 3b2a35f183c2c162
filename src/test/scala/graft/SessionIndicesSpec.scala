package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, FtsIndex, GraphOps, VectorSearch}
import graft.util.{Checkpoints, SessionIndices}

/** The session-resident index registry behind FtsIndex, VectorSearch
  * (IVF), Dedup (CC labels) and GraphOps (prepared graphs): release of
  * exactly the handed-over storage, per-key locking, build-once.
  */
class SessionIndicesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def uniq(name: String) = s"spec:$name-${System.nanoTime()}"
  private lazy val docs = Seq((1L, "alpha bravo"), (2L, "charlie delta"), (3L, "echo alpha"))
    .toDF("id", "text")
  private lazy val vecs = (0 until 12).map { i =>
    (i.toLong, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat / 11f))
  }.toDF("vec_id", "embedding")
  private lazy val nodes = Seq(1L, 2L, 7L).toDF("id")
  private lazy val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("an unchanged chunks table adds no pin, and clear() releases every fragment of the FTS entry") {
    val wh = java.nio.file.Files.createTempDirectory("graft-fts-fragments").toString
    val pipe = new graft.pipeline.Pipeline(spark, GraftConfig(warehouseDir = wh))
    try {
      SparkTestBase.appendChunks(wh, ("1", "alpha bravo"), ("2", "charlie delta"), ("3", "echo alpha"))
      pipe.ftsIndex
      SparkTestBase.appendChunks(wh, ("4", "foxtrot golf"))
      val idx = pipe.ftsIndex
      val fragmentPins = idx.retained.map(Checkpoints.pinnedRddIds(_))
      assert(fragmentPins.length == 2 && fragmentPins.forall(ids => ids.nonEmpty && ids.subsetOf(persistent)))
      assert(FtsIndex.search(spark, idx, "foxtrot", 5).count() == 1L)
      // the same files again (a replayed batch appended nothing): the
      // entry as it is, with no new pin
      val beforeReplay = persistent
      assert((pipe.ftsIndex eq idx) && idx.numDocs == 4L)
      assert(persistent == beforeReplay, "an unchanged table adds no pin")

      SessionIndices.clear()
      fragmentPins.foreach(ids => assert(ids.intersect(persistent).isEmpty,
        s"fragment pin $ids must be released with the index"))
    } finally pipe.flush()
  }

  private def mkPdf(dir: String, name: String, body: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), s"%PDF-1.4\n$body".getBytes("UTF-8"))
  }

  test("a streaming micro-batch leaves no checkpoint RDD behind once its FTS key is invalidated") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream-release").toString
    val wh = s"$base/wh"
    val pipe = new graft.pipeline.Pipeline(spark, GraftConfig(warehouseDir = wh))
    val before = persistent
    def batch(i: Int) = {
      mkPdf(s"$base/in$i", s"d$i.pdf", s"# Doc $i\n\nrelease every pin of batch $i once the index goes.")
      graft.sources.PdfSource.scan(spark, s"$base/in$i")
    }
    try {
      pipe.ingestBatch(batch(0), "ckptRel#0")
      assert((persistent -- before).nonEmpty, "precondition: the live index holds the batch's chunks")
      // a flush of the session's indices racing later batches: each clear
      // lands while the batch may still be reading its chunks, and must
      // never fail it or free what it reads
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val invalidator = new Thread(() =>
        while (!stop.get) { SessionIndices.clear(); Thread.sleep(5) })
      invalidator.start()
      try (1 to 3).foreach(i => pipe.ingestBatch(batch(i), s"ckptRel#$i"))
      finally { stop.set(true); invalidator.join() }
      assert(pipe.catalog.read("chunks").select("document_id").distinct().count() == 4L)
      assert(pipe.ftsIndex.numDocs == pipe.catalog.read("chunks").count())
    } finally SessionIndices.clear()
    assert((persistent -- before).isEmpty, s"left pinned: ${persistent -- before}")
  }

  test("after processDirectory only the resident FTS index holds checkpoints; flush releases them") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-release").toString
    val pipe = new graft.pipeline.Pipeline(spark, GraftConfig(warehouseDir = s"$base/wh"))
    val before = persistent
    mkPdf(s"$base/a", "a.pdf", "# A\n\nthe first batch builds the resident index.")
    mkPdf(s"$base/b", "b.pdf", "# B\n\nthe second batch extends it by one fragment.")
    pipe.processDirectory(s"$base/a")
    pipe.processDirectory(s"$base/b")
    val held = Checkpoints.pinnedRddIds(pipe.ftsIndex.postings)
    assert(held.nonEmpty && held.subsetOf(persistent))
    assert((persistent -- before).subsetOf(held),
      s"checkpoints beyond the index's: ${(persistent -- before) -- held}")
    pipe.flush()
    assert((persistent -- before).isEmpty, s"left pinned after flush: ${persistent -- before}")
  }

  test("reliable-checkpoint mode: releasing a clustersCached entry deletes its checkpoint files") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-registry-ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val labels = Dedup.clustersCached(uniq("reliable-cc"), nodes, "id", pairs)
      val files = labels.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
      }.flatten
      assert(files.nonEmpty, "precondition: the label table is a reliable checkpoint")
      def exists(f: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(new java.net.URI(f)))
      assert(files.forall(exists))
      SessionIndices.clear()
      assert(!files.exists(exists), s"checkpoint files left behind: $files")
    } finally {
      // restore block-based mode for the rest of the shared-session suite
      classOf[org.apache.spark.SparkContext]
        .getMethod("checkpointDir_$eq", classOf[Option[_]])
        .invoke(sc, None)
    }
  }

  test("a build blocked inside its by-name argument blocks neither other keys' builds nor lookups") {
    val ivfHit = uniq("ivf-hit")
    val ftsHit = uniq("fts-hit")
    VectorSearch.buildIvfCached(ivfHit, vecs, "embedding", nLists = 2)
    FtsIndex.buildCached(ftsHit, docs, "id", "text")
    val pool = Executors.newFixedThreadPool(2)
    val entered = new CountDownLatch(2)
    val unblock = new CountDownLatch(1)
    // `build` receives its corpus by name: the latch waits run inside the
    // registry's build, with the key's monitor held
    def blocked[T](df: DataFrame)(build: (=> DataFrame) => T): java.util.concurrent.Future[T] =
      pool.submit(new Callable[T] {
        def call(): T = build { entered.countDown(); unblock.await(); df }
      })
    try {
      val blockedIvf = blocked(vecs)(c => VectorSearch.buildIvfCached(uniq("ivf-blocked"), c, "embedding", nLists = 2))
      val blockedFts = blocked(docs)(c => FtsIndex.buildCached(uniq("fts-blocked"), c, "id", "text"))
      assert(entered.await(60, TimeUnit.SECONDS), "both builds reached their by-name argument")
      // every other key of every kind is served while those builds hang
      val others = Executors.newSingleThreadExecutor()
      try {
        others.submit(new Callable[Unit] {
          def call(): Unit = {
            VectorSearch.buildIvfCached(ivfHit, vecs, "embedding", nLists = 2)
            FtsIndex.buildCached(ftsHit, docs, "id", "text")
            VectorSearch.buildIvfCached(uniq("ivf-other"), vecs, "embedding", nLists = 2)
            FtsIndex.buildCached(uniq("fts-other"), docs, "id", "text")
            Dedup.clustersCached(uniq("cc-other"), nodes, "id", pairs)
            GraphOps.prepareCached(uniq("graph-other"), edges, "src", "dst")
          }
        }).get(120, TimeUnit.SECONDS)
      } finally others.shutdown()
      assert(!blockedIvf.isDone && !blockedFts.isDone, "the blocked builds were still in progress")
      unblock.countDown()
      assert(blockedIvf.get(120, TimeUnit.SECONDS).centroids.length == 2)
      assert(blockedFts.get(120, TimeUnit.SECONDS).numDocs == 3L)
    } finally { unblock.countDown(); pool.shutdown() }
  }

  test("same-key contention builds once and every caller gets the same entry") {
    val ftsKey = uniq("fts-contended")
    val ivfKey = uniq("ivf-contended")
    val ftsBuilds = new AtomicInteger()
    val ivfBuilds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { _ =>
        pool.submit(new Callable[(AnyRef, AnyRef)] {
          def call(): (AnyRef, AnyRef) = {
            go.await()
            (FtsIndex.buildCached(ftsKey, { ftsBuilds.incrementAndGet(); docs }, "id", "text"),
              VectorSearch.buildIvfCached(ivfKey, { ivfBuilds.incrementAndGet(); vecs }, "embedding", nLists = 2))
          }
        })
      }
      go.countDown()
      val got = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(ftsBuilds.get == 1 && ivfBuilds.get == 1, s"builds: fts ${ftsBuilds.get}, ivf ${ivfBuilds.get}")
      assert(got.forall(g => (g._1 eq got.head._1) && (g._2 eq got.head._2)))
    } finally { pool.shutdown(); SessionIndices.clear() }
  }

  test("clear() releases all four kinds of entry and the next request rebuilds") {
    val ftsKey = uniq("fts-clear")
    val ivfKey = uniq("ivf-clear")
    val ccKey = uniq("cc-clear")
    val graphKey = uniq("graph-clear")
    val fts = FtsIndex.buildCached(ftsKey, docs, "id", "text")
    val ivf = VectorSearch.buildIvfCached(ivfKey, vecs, "embedding", nLists = 2)
    val labels = Dedup.clustersCached(ccKey, nodes, "id", pairs)
    val graph = GraphOps.prepareCached(graphKey, edges, "src", "dst")
    val pinned = Checkpoints.pinnedRddIds(labels, graph.withDeg, graph.nodes)
    val ftsPinned = Checkpoints.pinnedRddIds(fts.postings)
    assert(ftsPinned.nonEmpty && ftsPinned.subsetOf(persistent) && ivf.indexed.storageLevel != StorageLevel.NONE)
    assert(pinned.nonEmpty && pinned.subsetOf(persistent))

    SessionIndices.clear()
    assert(ftsPinned.intersect(persistent).isEmpty, "FTS postings released")
    assert(ivf.indexed.storageLevel == StorageLevel.NONE, "IVF cells unpersisted")
    assert(pinned.intersect(persistent).isEmpty, "CC labels and prepared-graph checkpoints released")

    assert(!(FtsIndex.buildCached(ftsKey, docs, "id", "text") eq fts))
    assert(!(VectorSearch.buildIvfCached(ivfKey, vecs, "embedding", nLists = 2) eq ivf))
    assert(!(Dedup.clustersCached(ccKey, nodes, "id", pairs) eq labels))
    assert(!(GraphOps.prepareCached(graphKey, edges, "src", "dst") eq graph))
    SessionIndices.clear()
  }
}
