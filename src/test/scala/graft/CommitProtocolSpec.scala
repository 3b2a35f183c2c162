package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{LoaderSchedule, SequencePacking, TextAnalysis}
import graft.sources.{Catalog, CommitProtocol, CopyDeleteProtocol}

/** r15 verdict #1: the commit protocol is a REAL seam now — prove every
  * swap verb stays correct (or fails loud) when rename is object-store
  * copy+delete instead of POSIX-atomic, and that the non-atomic window
  * is actually observable (so the proof isn't vacuous).
  */
class CommitProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Observing fake: copy+delete rename, recording each window where it
    * saw `target` in a non-atomic state (absent mid-swap, or coexisting
    * with its source). Filtered to `root` so concurrent suites' swaps
    * (the protocol is process-global) don't pollute the observations.
    */
  private final class ObservingCopyDelete(root: String) extends CopyDeleteProtocol {
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    override protected def midWindow(phase: String, target: java.nio.file.Path): Unit =
      if (target.toAbsolutePath.toString.startsWith(root))
        windows.add((phase, java.nio.file.Files.exists(target)))
  }

  /** Crash-injecting fake: dies inside the FIRST "absent" window under
    * `root` — the old content is deleted from `target`, the new content
    * was never published (the worst object-store crash point; only
    * dot-prefixed debris copies survive).
    */
  private final class CrashingCopyDelete(root: String) extends CopyDeleteProtocol {
    @volatile var armed = true
    override protected def midWindow(phase: String, target: java.nio.file.Path): Unit =
      if (armed && phase == "absent" &&
          target.toAbsolutePath.toString.startsWith(root)) {
        armed = false
        throw new RuntimeException(s"injected crash mid-swap at $target")
      }
  }

  private def docs(n: Long) = (1L to n)
    .map(i => (i, (i * 37 % 17) + 3))
    .map { case (i, tok) => (i, tok, (1L to tok).map(j => i * 100 + j)) }

  private def buildStore(dir: String): Unit = {
    val df = docs(60L).toDF("id", "tok", "ids")
    val packed = SequencePacking.packSequences(df, "id", "tok", "ids", budget = 40, partitions = 2)
    SequencePacking.exportShards(packed, dir, nShards = 4)
  }

  private def manifestOf(dir: String): Seq[Seq[Any]] = {
    spark.catalog.refreshByPath(s"$dir/manifest")
    spark.read.parquet(s"$dir/manifest").orderBy("shard").collect().map(_.toSeq).toSeq
  }

  test("shard-store lifecycle is byte-identical under copy+delete rename, and the window is real") {
    // reference run under the default atomic protocol
    val atomicDir = java.nio.file.Files.createTempDirectory("graft_cp_atomic").toString
    buildStore(atomicDir)
    val extra = docs(20L).map { case (i, t, ids) => (i + 1000L, t, ids) }.toDF("id", "tok", "ids")
    val packedExtra = SequencePacking.packSequences(extra, "id", "tok", "ids", budget = 40, partitions = 1)
    SequencePacking.appendShards(packedExtra, atomicDir, batchKey = "cp#grow")
    SequencePacking.retractFromShards(spark, atomicDir, Seq(3L, 1005L))
    SequencePacking.compactShards(spark, atomicDir)
    val wantManifest = manifestOf(atomicDir)
    val wantRows = SequencePacking.readShard(spark, atomicDir, 2L)
      .orderBy("bin_id").collect().map(_.toSeq).toSeq

    // same lifecycle under object-store rename semantics
    val root = java.nio.file.Files.createTempDirectory("graft_cp_objstore").toString
    val fake = new ObservingCopyDelete(root)
    val (gotManifest, gotRows, sched) = CommitProtocol.withProtocol(fake) {
      val dir = s"$root/store"
      buildStore(dir)
      SequencePacking.appendShards(packedExtra, dir, batchKey = "cp#grow")
      SequencePacking.retractFromShards(spark, dir, Seq(3L, 1005L))
      SequencePacking.compactShards(spark, dir)
      // the read side: certified read + a schedule build over the swapped
      // manifest (read-after-swap visibility through refreshByPath)
      val rows = SequencePacking.readShard(spark, dir, 2L)
        .orderBy("bin_id").collect().map(_.toSeq).toSeq
      val sc = LoaderSchedule.epochSchedule(spark, dir, "cp-ep").count()
      (manifestOf(dir), rows, sc)
    }
    assert(gotManifest == wantManifest,
      "manifest diverged between atomic-move and copy-delete protocols")
    assert(gotRows == wantRows, "shard content diverged under copy-delete")
    assert(sched > 0L)
    // the proof is not vacuous: swaps happened, and at least one "aside"
    // window saw target absent (the state POSIX rename never exposes)
    import scala.jdk.CollectionConverters._
    val ws = fake.windows.asScala.toSeq
    assert(ws.nonEmpty, "no swap ran through the fake — the suite proved nothing")
    assert(ws.exists { case (phase, targetExists) => phase == "absent" && !targetExists },
      s"expected an observable target-absent window, saw: ${ws.take(20)}")
  }

  test("catalog overwrite/delete/update land identically under copy+delete") {
    def lifecycle(whDir: String): Seq[Seq[Any]] = {
      val cat = new Catalog(spark, whDir)
      cat.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "k", "v"), "t")
      cat.deleteWhere("t", col("id") === 3L)
      cat.deleteMatching("t", Seq(Tuple1(1L)).toDF("id"), Seq("id"))
      cat.read("t").orderBy("id").collect().map(_.toSeq).toSeq
    }
    val want = lifecycle(java.nio.file.Files.createTempDirectory("graft_cp_wh_a").toString)
    val root = java.nio.file.Files.createTempDirectory("graft_cp_wh_o").toString
    val fake = new ObservingCopyDelete(root)
    val got = CommitProtocol.withProtocol(fake)(lifecycle(s"$root/wh"))
    assert(got == want)
    assert(!fake.windows.isEmpty, "no swap ran through the fake")
  }

  test("forName resolves the config names; unknown names fail loud") {
    assert(CommitProtocol.forName("atomic-move") eq CommitProtocol.AtomicMove)
    assert(CommitProtocol.forName("copy-delete").isInstanceOf[CopyDeleteProtocol])
    val ex = intercept[IllegalArgumentException](CommitProtocol.forName("s3-magic"))
    assert(ex.getMessage.contains("unknown commit protocol"))
  }

  test("config Option semantics (ADVICE r16): None leaves the protocol alone; Some installs EXACTLY it") {
    import graft.{GraftConfig => GC}
    val prev = CommitProtocol.current
    def wh() = java.nio.file.Files.createTempDirectory("graft_cfg_proto").toString
    try {
      // Some("copy-delete") installs it process-globally
      new graft.pipeline.Pipeline(spark,
        GC(warehouseDir = wh(), commitProtocol = Some("copy-delete")))
      assert(CommitProtocol.current.isInstanceOf[CopyDeleteProtocol])
      // a later default-config Pipeline must NOT silently reset it
      new graft.pipeline.Pipeline(spark, GC(warehouseDir = wh()))
      assert(CommitProtocol.current.isInstanceOf[CopyDeleteProtocol],
        "a None config reset the installed protocol")
      // ...and an explicit Some("atomic-move") RESTORES the default — the
      // move the old plain-string sentinel could never express
      new graft.pipeline.Pipeline(spark,
        GC(warehouseDir = wh(), commitProtocol = Some("atomic-move")))
      assert(CommitProtocol.current eq CommitProtocol.AtomicMove)
      // the lease seam follows the same convention
      new graft.pipeline.Pipeline(spark,
        GC(warehouseDir = wh(), leaseProtocol = Some("file")))
      assert(graft.sources.StoreLease.current eq graft.sources.FileLease)
    } finally CommitProtocol.install(prev)
  }
}
