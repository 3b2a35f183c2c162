package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SequencePacking
import graft.sources.{LeaseProtocol, StoreLease}
import java.nio.file.{Files, Paths}

/** r15 verdict #2: the shard store's single-writer contract is a CHECKED
  * invariant now — a second concurrent writer fails loud, a crashed
  * holder's expired lease is stolen loudly, and a verb that outlives its
  * own lease refuses to report success.
  */
class StoreLeaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshStore(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    val df = (1L to 40L).map(i => (i, (i % 7) + 3, (1L to ((i % 7) + 3)).map(j => i * 100 + j)))
      .toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 30, partitions = 1)
    SequencePacking.exportShards(packed, dir, nShards = 2)
    dir
  }

  private def plantLock(dir: String, owner: String, expiresAt: Long, verb: String): Unit =
    Files.writeString(Paths.get(dir, StoreLease.LockFileName), s"$owner|$expiresAt|$verb")

  test("every mutating verb fails loud while another writer holds a live lease") {
    val dir = freshStore("graft_lease_live")
    plantLock(dir, "rival@otherhost#1", System.currentTimeMillis() + 60000L, "append")
    val extra = Seq((900L, 5L, (1L to 5L).map(_ + 90000L))).toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(extra, "id", "tok", "ids", budget = 30, partitions = 1)

    val verbs: Seq[(String, () => Any)] = Seq(
      "appendShards" -> (() => SequencePacking.appendShards(packed, dir, "lease#x")),
      "retractFromShards" -> (() => SequencePacking.retractFromShards(spark, dir, Seq(1L))),
      "compactShards" -> (() => SequencePacking.compactShards(spark, dir)),
      "exportShards" -> (() => SequencePacking.exportShards(packed, dir, nShards = 2))
    )
    verbs.foreach { case (name, run) =>
      val ex = intercept[IllegalStateException](run())
      assert(ex.getMessage.contains("held by writer rival@otherhost#1"), s"$name: ${ex.getMessage}")
    }
    // readers never need the lease
    assert(SequencePacking.readShard(spark, dir, 0L).count() > 0L)
    assert(SequencePackingSpec.verifyShards(spark, dir).where(!org.apache.spark.sql.functions.col("ok")).isEmpty)
    // and the rival's lease is untouched by the refused attempts
    assert(Files.readString(Paths.get(dir, StoreLease.LockFileName)).startsWith("rival@otherhost#1|"))
  }

  test("a crashed holder's EXPIRED lease is stolen loudly and the verb completes") {
    val dir = freshStore("graft_lease_dead")
    plantLock(dir, "dead@gonehost#2", System.currentTimeMillis() - 1000L, "compact")
    val before = spark.read.parquet(s"$dir/manifest").collect().map(_.toSeq).toSet
    // the verb steals the expired lease, runs, and releases its own
    SequencePacking.compactShards(spark, dir)
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)), "lease not released")
    spark.catalog.refreshByPath(s"$dir/manifest")
    assert(spark.read.parquet(s"$dir/manifest").collect().map(_.toSeq).toSet == before,
      "compaction under a stolen lease must stay content-identical")
  }

  test("a torn lock is LIVE while fresh (a writer may be mid-create) and dead once older than the ttl") {
    val dir = freshStore("graft_lease_torn")
    val lock = Paths.get(dir, StoreLease.LockFileName)
    Files.writeString(lock, "garbage-without-fields")
    // fresh mtime: never steal what can't be read unless it's too old to
    // still be being written — the verb fails loud and leaves the file
    val ex = intercept[IllegalStateException](SequencePacking.compactShards(spark, dir))
    assert(ex.getMessage.contains("unreadable but recently-written"), ex.getMessage)
    assert(Files.exists(lock), "a fresh torn lock must not be deleted")
    // backdate it past the ttl: now verifiably dead — stolen, verb completes
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - StoreLease.DefaultTtlMs - 1000L))
    SequencePacking.compactShards(spark, dir)
    assert(!Files.exists(lock))
  }

  test("a same-host DEAD pid's lease is stolen immediately — crash replay never waits out the ttl") {
    val dir = freshStore("graft_lease_deadpid")
    val host = java.net.InetAddress.getLocalHost.getHostName
    // pid far above linux's default pid_max: verifiably not running; the
    // lease itself is still LIVE by expiry — only the liveness check frees it
    plantLock(dir, s"4194305@$host#dead", System.currentTimeMillis() + 600000L, "append")
    SequencePacking.compactShards(spark, dir)
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)))
  }

  test("a verb that outlives its lease refuses to report success") {
    val dir = Files.createTempDirectory("graft_lease_lost").toString
    val ex = intercept[IllegalStateException] {
      StoreLease.withLease(dir, "spec-verb") {
        // simulate the TTL expiring mid-verb and a second writer stealing
        plantLock(dir, "thief@host#3", System.currentTimeMillis() + 60000L, "append")
        42
      }
    }
    assert(ex.getMessage.contains("lost mid-verb"))
    // ...but a verb that FAILED on its own keeps its own exception (the
    // lost lease is reported to stderr, not thrown over the real error)
    plantLock(dir, "thief@host#3", System.currentTimeMillis() - 1L, "append") // expired: next acquire steals
    val own = intercept[RuntimeException] {
      StoreLease.withLease(dir, "spec-verb") {
        plantLock(dir, "thief2@host#4", System.currentTimeMillis() + 60000L, "x")
        throw new RuntimeException("the verb's own failure")
      }
    }
    assert(own.getMessage == "the verb's own failure")

    // a verb whose lease EXPIRED while held (nobody stole it) still
    // refuses success — the protection lapsed — and leaves the lock in
    // place so a mid-steal racer's claim is never erased by our release
    java.nio.file.Files.deleteIfExists(Paths.get(dir, StoreLease.LockFileName))
    val lapsed = intercept[IllegalStateException] {
      StoreLease.withLease(dir, "slow-verb", ttlMs = 50L) { Thread.sleep(200L); 7 }
    }
    assert(lapsed.getMessage.contains("EXPIRED while held"), lapsed.getMessage)
    assert(Files.exists(Paths.get(dir, StoreLease.LockFileName)),
      "an expired own lock must be left for stealers")
  }

  test("nested same-store verbs do not deadlock: append's internal takedown heal runs under append's lease") {
    import org.apache.spark.sql.functions._
    // the double-fault shape (SequencePackingSpec's fabrication): a
    // tombstoned doc sits in a crashed append's unledgered tail; the
    // REPLAY — holding the store lease — must complete the crashed
    // takedown internally without tripping over its own lock
    val dir = freshStore("graft_lease_nested")
    val base = spark.read.parquet(s"$dir/meta").agg(max("next_after")).head().getLong(0)
    val crash = SequencePacking.packSequences(
      Seq((901L, 5L, (1L to 5L).map(_ + 90100L))).toDF("id", "tok", "ids"),
      "id", "tok", "ids", budget = 30, partitions = 1)
    Files.writeString(Paths.get(dir, "pending"), base.toString)
    crash
      .withColumn("bin_id", col("bin_id") + base)
      .withColumn("shard", pmod(col("bin_id"), lit(2L)))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/data")
    Seq(901L).toDF("doc_id").coalesce(1).write.mode("append").parquet(s"$dir/tombstones")

    SequencePacking.appendShards(crash, dir, "lease#crash")
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)), "lease not released")
    val survivors = spark.read.parquet(s"$dir/data")
      .select(explode(col("doc_ids")).as("d")).where(col("d") === 901L)
    assert(survivors.isEmpty, "tombstoned doc survived the in-lease heal")
    assert(SequencePackingSpec.verifyShards(spark, dir).where(!col("ok")).isEmpty)
  }

  // ---- renewal (r16 verdict #2) -------------------------------------

  test("a long verb outlives its ttl CLEANLY by renewing at progress points") {
    val dir = Files.createTempDirectory("graft_lease_renew").toString
    val steps = collection.mutable.Buffer[Long]()
    val r = StoreLease.withRenewableLease(dir, "slow-maintenance", ttlMs = 300L) { lease =>
      (1 to 4).foreach { _ =>
        Thread.sleep(150L) // total 600ms — double the ttl
        lease.renew()
        steps += System.currentTimeMillis()
      }
      "done"
    }
    assert(r == "done", "renewed verb must report success")
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)), "lease not released")
    assert(steps.size == 4)
  }

  test("concurrent renew storm on one Held never tears the lock (r19 job-overlap contract)") {
    // per-shard publish jobs overlapped from a pool (guide §2.6) renew the
    // SHARED store lease from several threads; renew is read-modify-write
    // on the lock file, so it must serialize per Held — a torn read would
    // abort a healthy verb
    val dir = Files.createTempDirectory("graft_lease_conc").toString
    val r = StoreLease.withRenewableLease(dir, "concurrent-verb", ttlMs = 10000L) { lease =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      try {
        val futs = (1 to 8).map { _ =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try (1 to 50).foreach(_ => lease.renew())
              catch { case t: Throwable => failures.compareAndSet(null, t) }
          })
        }
        futs.foreach(_.get())
      } finally pool.shutdown()
      assert(failures.get() == null,
        s"concurrent renew failed: ${Option(failures.get()).map(_.getMessage)}")
      lease.renew() // still exclusively ours afterwards
      "done"
    }
    assert(r == "done")
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)), "lease not released")
  }

  test("concurrent swapIns to DIFFERENT targets under one shared guard lease all publish") {
    val root = Files.createTempDirectory("graft_swap_conc")
    StoreLease.withRenewableLease(root.toString, "parallel-publish", ttlMs = 10000L) { lease =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      try {
        val futs = (0 until 4).map { i =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                lease.renew()
                graft.sources.Catalog.swapIn(root.resolve(s"part=$i"), Seq(lease)) { tmp =>
                  Files.createDirectories(tmp)
                  Files.writeString(tmp.resolve("payload.txt"), s"content-$i")
                }
              } catch { case t: Throwable => failures.compareAndSet(null, t) }
          })
        }
        futs.foreach(_.get())
      } finally pool.shutdown()
      assert(failures.get() == null,
        s"concurrent swapIn failed: ${Option(failures.get()).map(_.getMessage)}")
    }
    (0 until 4).foreach { i =>
      val f = root.resolve(s"part=$i").resolve("payload.txt")
      assert(Files.exists(f) && Files.readString(f) == s"content-$i", s"part=$i lost its publish")
    }
  }

  test("renewal of a STOLEN lease fails loud — the verb must stop") {
    val dir = Files.createTempDirectory("graft_lease_renew_stolen").toString
    val ex = intercept[IllegalStateException] {
      StoreLease.withRenewableLease(dir, "victim-verb", ttlMs = 60000L) { lease =>
        plantLock(dir, "thief@host#7", System.currentTimeMillis() + 60000L, "x")
        lease.renew()
      }
    }
    assert(ex.getMessage.contains("STOLEN"), ex.getMessage)
  }

  test("renewal of a LAPSED lease fails loud — renew earlier, never resurrect") {
    val dir = Files.createTempDirectory("graft_lease_renew_lapsed").toString
    val ex = intercept[IllegalStateException] {
      StoreLease.withRenewableLease(dir, "too-slow", ttlMs = 50L) { lease =>
        Thread.sleep(150L)
        lease.renew()
      }
    }
    assert(ex.getMessage.contains("LAPSED"), ex.getMessage)
    assert(Files.exists(Paths.get(dir, StoreLease.LockFileName)),
      "a lapsed lock must be left for stealers")
  }

  test("withHeartbeat protects an opaque long callback; a mid-callback steal surfaces after it") {
    val dir = Files.createTempDirectory("graft_lease_hb").toString
    // an opaque callback 3x longer than the ttl completes cleanly under
    // the heartbeat (the swap's write-callback shape — no progress points)
    val r = StoreLease.withRenewableLease(dir, "opaque", ttlMs = 400L) { lease =>
      StoreLease.withHeartbeatChecked(lease, periodMs = 100L) { _ => Thread.sleep(1200L); "ok" }
    }
    assert(r == "ok")
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)), "lease not released")
    // a steal mid-callback is NOT swallowed: the callback's own result is
    // discarded and the heartbeat failure is rethrown when it returns
    val ex = intercept[IllegalStateException] {
      StoreLease.withRenewableLease(dir, "opaque2", ttlMs = 60000L) { lease =>
        StoreLease.withHeartbeatChecked(lease, periodMs = 50L) { _ =>
          plantLock(dir, "thief@host#hb", System.currentTimeMillis() + 60000L, "x")
          Thread.sleep(300L)
          "done-anyway"
        }
      }
    }
    assert(ex.getMessage.contains("heartbeat failed mid-verb"), ex.getMessage)
  }

  test("a stalled holder that never renews is still stolen once the ttl lapses") {
    val dir = Files.createTempDirectory("graft_lease_stalled").toString
    plantLock(dir, "stalled@gonehost#8", System.currentTimeMillis() + 80L, "hung-compact")
    Thread.sleep(120L) // the stall outlives its ttl
    // a fresh writer steals and completes — renewal keeps LIVE verbs safe
    // without protecting a genuinely-hung one forever
    val r = StoreLease.withLease(dir, "fresh-verb") { 99 }
    assert(r == 99)
  }

  // ---- lease coverage beyond the shard store (r16 verdict #1) -------

  test("histogram-store verbs fail loud while another writer holds the store") {
    import graft.operators.TextAnalysis
    val dir = Files.createTempDirectory("graft_lease_hist").toString
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    TextAnalysis.writeWordHistogram(TextAnalysis.wordHistogram(docs, "text"), dir)
    plantLock(dir, "rival@otherhost#h1", System.currentTimeMillis() + 60000L, "append-hist")
    val verbs: Seq[(String, () => Any)] = Seq(
      "writeWordHistogram" -> (() =>
        TextAnalysis.writeWordHistogram(TextAnalysis.wordHistogram(docs, "text"), dir)),
      "appendWordHistogram" -> (() =>
        TextAnalysis.appendWordHistogram(docs, "text", dir, "h#1"))
    )
    verbs.foreach { case (name, run) =>
      val ex = intercept[IllegalStateException](run())
      assert(ex.getMessage.contains("held by writer rival@otherhost#h1"), s"$name: ${ex.getMessage}")
    }
    // loads never need the lease
    assert(TextAnalysis.loadWordHistogram(spark, dir).hist.count() > 0L)
    Files.deleteIfExists(Paths.get(dir, StoreLease.LockFileName))
    // with the rival gone, the same verbs complete and release
    TextAnalysis.appendWordHistogram(docs, "text", dir, "h#2")
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)))
  }

  test("persisted-index writes fail loud while another writer holds the store") {
    import graft.operators.VectorSearch
    val dir = Files.createTempDirectory("graft_lease_idx").toString
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("id", "vec")
    plantLock(dir, "rival@otherhost#i1", System.currentTimeMillis() + 60000L, "write-lsh")
    val idx = VectorSearch.buildLshIndex(corpus, "vec", VectorSearch.SimHashLsh(nBits = 8, dim = 2))
    val ex = intercept[IllegalStateException](VectorSearch.writeLsh(idx, dir))
    assert(ex.getMessage.contains("held by writer rival@otherhost#i1"), ex.getMessage)
    Files.deleteIfExists(Paths.get(dir, StoreLease.LockFileName))
    VectorSearch.writeLsh(idx, dir)
    assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)))
    assert(VectorSearch.loadLsh(spark, dir).indexed.count() == 2L)
  }

  test("every directory swap is single-writer-checked at the swap level") {
    val parent = Files.createTempDirectory("graft_lease_swap")
    val target = parent.resolve("tbl")
    // a live rival lease on the swap target refuses the swap BEFORE the
    // write callback runs — two Pipelines racing one warehouse table
    Files.writeString(parent.resolve(".tbl_writer.lock"),
      s"rival@otherhost#w1|${System.currentTimeMillis() + 60000L}|swap")
    var wrote = false
    val ex = intercept[IllegalStateException] {
      graft.sources.Catalog.swapIn(target) { tmp =>
        wrote = true
        Files.createDirectories(tmp)
        Files.writeString(tmp.resolve("f"), "x")
      }
    }
    assert(ex.getMessage.contains("held by writer rival@otherhost#w1"), ex.getMessage)
    assert(!wrote, "the write callback must not run under a refused lease")
    assert(!Files.exists(target), "nothing may be published under a refused lease")
    Files.delete(parent.resolve(".tbl_writer.lock"))
    // with the rival gone the swap completes and releases its lock
    graft.sources.Catalog.swapIn(target) { tmp =>
      Files.createDirectories(tmp)
      Files.writeString(tmp.resolve("f"), "x")
    }
    assert(Files.readString(target.resolve("f")) == "x")
    assert(!Files.exists(parent.resolve(".tbl_writer.lock")), "swap lease not released")
  }

  // ---- injectable protocol (r16 verdict #3) -------------------------

  /** In-memory lock service: what a DynamoDB/ZK-backed LeaseProtocol
    * looks like — linearizable compute() instead of file ops.
    */
  private final class FakeLockService extends LeaseProtocol {
    val locks = new java.util.concurrent.ConcurrentHashMap[String, (String, Long, String)]()
    val events = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-store monotonic fence counters — what a ZK/etcd protocol gets
    // from the lock node's creation zxid / mod revision
    val fences = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    override def name: String = "fake"
    override def acquire(storePath: String, verb: String, ttlMs: Long, sibling: Boolean): LeaseProtocol.Held = {
      val owner = s"fake#${seq.incrementAndGet()}"
      val now = System.currentTimeMillis()
      val cur = locks.compute(storePath, (_, c) =>
        if (c == null || c._2 < now) (owner, now + ttlMs, verb) else c)
      if (cur._1 != owner)
        throw new IllegalStateException(s"fake lease: $storePath held by writer ${cur._1}")
      events.add(s"acquire:$verb")
      val myFence = fences
        .computeIfAbsent(storePath, _ => new java.util.concurrent.atomic.AtomicLong(0L))
        .incrementAndGet()
      new LeaseProtocol.Held {
        override def ownerId: String = owner
        override def fence: Long = myFence
        override def newestFence(): Long = fences.get(storePath).get()
        override def renew(): Unit = {
          val now2 = System.currentTimeMillis()
          val ok = locks.computeIfPresent(storePath, (_, c) =>
            if (c._1 == owner && c._2 >= now2) (owner, now2 + ttlMs, verb) else c)
          if (ok == null || ok._1 != owner || ok._2 < now2)
            throw new IllegalStateException(s"fake lease: renewal lost on $storePath")
          events.add(s"renew:$verb")
        }
        override def release(): Option[String] = {
          val now2 = System.currentTimeMillis()
          val cur2 = locks.get(storePath)
          if (cur2 != null && cur2._1 == owner && cur2._2 >= now2) {
            locks.remove(storePath, cur2)
            events.add(s"release:$verb")
            None
          } else if (cur2 != null && cur2._1 == owner) Some("EXPIRED while held")
          else Some(s"stolen by ${if (cur2 == null) "nobody (vanished)" else cur2._1}")
        }
      }
    }
  }

  test("the lease seam is injectable: shard verbs run against a lock service, not files") {
    val fake = new FakeLockService
    StoreLease.withProtocol(fake) {
      val dir = freshStore("graft_lease_fake")
      // the file lock never existed — the fake arbitrated every verb
      assert(!Files.exists(Paths.get(dir, StoreLease.LockFileName)),
        "file lock written despite an installed lock service")
      assert(fake.events.contains("acquire:export"), fake.events.toString)
      assert(fake.events.contains("release:export"), fake.events.toString)
      assert(fake.events.contains("renew:export"), "export heartbeat missing")
      // contention through the service is loud
      fake.locks.put(dir, ("other-driver", System.currentTimeMillis() + 60000L, "append"))
      val ex = intercept[IllegalStateException](SequencePacking.compactShards(spark, dir))
      assert(ex.getMessage.contains("held by writer other-driver"), ex.getMessage)
      fake.locks.remove(dir)
      // path spellings normalize to ONE service key: a lease held under
      // the plain spelling refuses a writer naming the store with a
      // trailing slash (a raw-string-keyed service would mint two leases)
      fake.locks.put(dir, ("other-driver", System.currentTimeMillis() + 60000L, "append"))
      val sp = intercept[IllegalStateException](
        SequencePacking.compactShards(spark, dir + "/"))
      assert(sp.getMessage.contains("held by writer other-driver"), sp.getMessage)
      fake.locks.remove(dir)
      // a lapsed service lease surfaces as the same loud lost-mid-verb
      val lost = intercept[IllegalStateException] {
        StoreLease.withRenewableLease(dir, "slow", ttlMs = 40L) { _ => Thread.sleep(100L); 1 }
      }
      assert(lost.getMessage.contains("lost mid-verb"), lost.getMessage)
    }
    assert(StoreLease.current.name == "file", "withProtocol must restore the default")
    assert(StoreLease.forName("file").name == "file")
    intercept[IllegalArgumentException](StoreLease.forName("zk"))
  }

  // ---- fencing tokens (r17 verdict #2) ------------------------------

  test("fencing tokens are minted monotonically across acquire/release cycles") {
    val dir = Files.createTempDirectory("graft_fence_mono").toString
    val fences = (1 to 3).map { i =>
      var f = -1L
      StoreLease.withRenewableLease(dir, s"v$i", ttlMs = 60000L) { h =>
        f = h.fence
        assert(h.newestFence() == f, "a live sole holder must be the newest fence")
      }
      f
    }
    assert(fences == Seq(1L, 2L, 3L), s"fences not monotonic from 1: $fences")
  }

  /** The verdict-#2 scenario: writer A's hold lapses mid-verb, a second
    * writer STEALS (minting a higher fence), and A's late commit must be
    * REJECTED before anything publishes — under both commit protocols.
    */
  private def lateSwapRejected(protoName: String): Unit = {
    val dir = freshStore(s"graft_fence_$protoName")
    val target = Paths.get(dir, "manifest")
    val manifestBefore = spark.read.parquet(s"$dir/manifest").collect().map(_.toSeq).toSet
    val outer = intercept[IllegalStateException] {
      StoreLease.withRenewableLease(dir, "victim", ttlMs = 60000L) { victim =>
        // the victim's hold lapses (simulated by backdating its expiry)…
        val lock = Paths.get(dir, StoreLease.LockFileName)
        val c = Files.readString(lock).split('|')
        Files.writeString(lock, s"${c(0)}|${System.currentTimeMillis() - 1000L}|${c(2)}")
        // …and a second writer steals the lease, minting a HIGHER fence
        val thief = StoreLease.current.acquire(dir, "thief", 60000L, sibling = false)
        assert(thief.fence > victim.fence, s"steal must out-fence: ${thief.fence} vs ${victim.fence}")
        // the victim's late manifest swap: the write callback runs, but
        // the fence comparison refuses the publish
        var wrote = false
        val ex = intercept[IllegalStateException] {
          graft.sources.Catalog.swapIn(target, Seq(victim)) { tmp =>
            wrote = true
            Files.createDirectories(tmp)
            Files.writeString(tmp.resolve("poison"), "x")
          }
        }
        assert(ex.getMessage.contains("LATER lease"), s"$protoName: ${ex.getMessage}")
        assert(wrote, "the write callback itself runs; the PUBLISH is what the fence stops")
        assert(!Files.exists(target.resolve("poison")),
          s"$protoName: the out-fenced swap must not publish")
        assert(thief.release().isEmpty, "the thief's own hold stays clean")
      }
    }
    // the victim's verb must not report success either
    assert(outer.getMessage.contains("lost mid-verb"), outer.getMessage)
    spark.catalog.refreshByPath(s"$dir/manifest")
    assert(spark.read.parquet(s"$dir/manifest").collect().map(_.toSeq).toSet == manifestBefore,
      s"$protoName: the store must be byte-identical after the refused late swap")
  }

  test("a stolen-from writer's late swap is fence-rejected, unpublished (atomic-move)") {
    lateSwapRejected("am")
  }

  test("a stolen-from writer's late swap is fence-rejected, unpublished (copy-delete)") {
    graft.sources.CommitProtocol.withProtocol(new graft.sources.CopyDeleteProtocol) {
      lateSwapRejected("cd")
    }
  }

  test("fencing through a lock service: the out-fenced publisher is refused") {
    val fake = new FakeLockService
    StoreLease.withProtocol(fake) {
      val dir = Files.createTempDirectory("graft_fence_fake").toString
      val key = graft.util.PathKeys.normalize(dir)
      val outer = intercept[IllegalStateException] {
        StoreLease.withRenewableLease(dir, "victim", ttlMs = 60000L) { victim =>
          fake.locks.remove(key) // the service expires the hold
          val thief = StoreLease.current.acquire(key, "thief", 60000L, sibling = false)
          assert(thief.fence == victim.fence + 1)
          val inner = intercept[IllegalStateException](
            StoreLease.assertFenced(victim, "spec pre-publish"))
          assert(inner.getMessage.contains("LATER lease"), inner.getMessage)
          assert(thief.release().isEmpty)
        }
      }
      assert(outer.getMessage.contains("lost mid-verb"), outer.getMessage)
    }
  }
}
