package graft.sources

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table catalog — the single columnar store that replaces
  * the reference's SQLite (metadata rows) + LanceDB (text/vectors) dual
  * store (SURVEY.md §1.3): one `chunks` table serves both roles because
  * Spark's column pruning reads only referenced columns.
  *
  * Mutation model: parquet is immutable, so updates/deletes are
  * read -> transform -> write-to-temp -> atomic-swap cycles (the
  * reference's row-level UPDATE/DELETE, src/load/sqlite_store.py:153-172,
  * 229-240, recast for immutable storage — SURVEY §7.4.4). At cluster
  * scale the same contract is served by a transactional table format; the
  * swap here is the single-writer equivalent.
  *
  * Read contract: [[read]] resolves a table once per version. A table's
  * version is the listing of its directory (every file's path, size and
  * modification time). Each `Catalog` keeps the frame it last resolved
  * for a table together with that listing. A read whose listing matches
  * returns the kept frame: no cache refresh, no schema inference, no
  * Spark job, so plans cached over the table stay loaded across queries.
  * Any write changes the listing, whoever makes it: an append, a swap, a
  * flush, another `Catalog` or another process. The next read
  * then refreshes every cached plan over the path and resolves the table
  * again, so no reader is served a stale listing. A structure derived
  * from a table, such as the resident FTS postings, stamps itself with
  * the table's [[dataFiles]] and follows them the same way.
  */
final class Catalog(spark: SparkSession, warehouseDir: String) {

  private def tablePath(name: String): Path = Paths.get(warehouseDir, name)

  // table name -> (listing it was resolved at, resolved frame); holds plans
  // only, never storage
  private val resolved = new ConcurrentHashMap[String, (Seq[(String, Long, Long)], DataFrame)]()

  def exists(name: String): Boolean = Files.exists(tablePath(name))

  /** The table as of its current listing; throws when it does not exist. */
  def read(name: String): DataFrame = {
    val dir = tablePath(name)
    // list BEFORE resolving: a write racing the resolve then leaves a
    // listing older than the frame, which the next read re-resolves
    val listing = Catalog.listing(dir)
    Option(resolved.get(name)) match {
      case Some((seen, df)) if listing.contains(seen) => df
      case _ =>
        val p = dir.toString
        spark.catalog.refreshByPath(p) // the table changed: re-cache plans over it
        val df = spark.read.parquet(p)
        listing match {
          case Some(l) => resolved.put(name, (l, df))
          case None    => resolved.remove(name)
        }
        df
    }
  }

  /** The table's data files: the (path, size, mtime) of every file under
    * it whose path below the table has no segment starting with `_` or
    * `.`, the names Spark's file index skips. Sorted; throws when the
    * table cannot be listed.
    */
  def dataFiles(name: String): Seq[(String, Long, Long)] = {
    val dir = tablePath(name)
    def hidden(f: String): Boolean =
      dir.relativize(Paths.get(f)).iterator().asScala.exists { s =>
        val n = s.toString
        n.startsWith("_") || n.startsWith(".")
      }
    Catalog.listing(dir).getOrElse(throw new java.io.FileNotFoundException(s"table $name: cannot list $dir"))
      .filterNot { case (f, _, _) => hidden(f) }
  }

  /** Append rows (the reference's INSERT path, sqlite_store.py:120-151). */
  def append(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Append).parquet(tablePath(name).toString)

  /** Full overwrite via temp-dir + atomic move — routed through the ONE
    * commit-protocol seam, [[Catalog.swapIn]].
    */
  def overwrite(df: DataFrame, name: String): Unit =
    Catalog.swapIn(tablePath(name)) { tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }

  /** Delete rows matching `pred` — anti-join rewrite (S10/J5: the
    * reference's DELETE WHERE document_id = x, sqlite_store.py:229-240).
    */
  def deleteWhere(name: String, pred: Column): Unit =
    if (exists(name)) {
      val remaining = read(name).where(!coalesce(pred, lit(false)))
      overwrite(remaining, name)
    }

  /** Delete rows whose `keys` appear in `ids` — the structural form of
    * [[deleteWhere]] for set-valued deletes: the doomed set stays a
    * DataFrame end to end, so a bulk delete of millions of ids is one
    * anti-join instead of a collected `isin` literal tree (which would be
    * driver-bounded and stall Catalyst on a million-term expression).
    * No-op (no table rewrite) when `ids` is empty.
    */
  def deleteMatching(name: String, ids: DataFrame, keys: Seq[String]): Unit =
    if (exists(name)) {
      // pin the doomed set before the swap: its lineage may read the very
      // table the overwrite below replaces (e.g. re-admitted hashes are
      // derived FROM the documents table being rewritten); released on
      // every exit — a caller deleting from several tables per takedown
      // must not accumulate one pinned RDD per call
      graft.util.Checkpoints.scoped(spark) { scratch =>
        val doomed = scratch.pin(ids.select(keys.map(col): _*).distinct())
        if (!doomed.isEmpty) {
          val remaining = read(name).join(doomed, keys, "left_anti")
          overwrite(remaining, name)
        }
      }
    }

  /** Flush the warehouse: drop every table directory (the reference's
    * flush_data.py reset utility, scripts/flush_data.py — source inputs
    * are never touched, matching its default no-`--all` mode). Returns the
    * dropped table names; `dryRun = true` only reports them.
    */
  def flush(dryRun: Boolean = false): Seq[String] = {
    val root = Paths.get(warehouseDir)
    if (!Files.exists(root)) return Seq.empty
    val listing = Files.list(root)
    val tables =
      try listing.iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith("."))
      finally listing.close()
    if (!dryRun) tables.foreach { p =>
      deleteRecursively(p)
      spark.catalog.refreshByPath(p.toString)
    }
    tables.map(_.getFileName.toString).sorted
  }

  private def deleteRecursively(p: Path): Unit = Catalog.deleteRecursively(p)
}

/** The ONE commit-protocol seam for every atomic directory swap in the
  * engine (VERDICT r14 #3): [[Catalog.overwrite]], the training-shard
  * verbs ([[graft.operators.SequencePacking.retractFromShards]] /
  * `compactShards` / `appendShards`' manifest splice) all commit
  * through [[swapIn]] instead of hand-rolling the temp-write + move
  * dance. [[swapIn]] delegates to the INSTALLED [[CommitProtocol]]
  * (default [[CommitProtocol.AtomicMove]], POSIX rename; selected by
  * `GraftConfig.commitProtocol` or [[CommitProtocol.install]]) — a
  * deployment over a store without atomic rename swaps the protocol and
  * every verb inherits it with no other changes. The commit and
  * read-after-swap contracts are stated once, on the trait.
  */
object Catalog {

  /** (path, size, mtime) of every file under `dir`, sorted; None when the
    * directory cannot be listed (absent, or removed mid-walk by a swap).
    */
  private def listing(dir: Path): Option[Seq[(String, Long, Long)]] =
    try {
      val files = Vector.newBuilder[(String, Long, Long)]
      Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          files += ((f.toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
          FileVisitResult.CONTINUE
        }
      })
      Some(files.result().sorted)
    } catch { case _: IOException => None }

  /** Replace the directory at `target` with whatever `write` produces at
    * the temp path it is handed, committing through the installed
    * [[CommitProtocol]]. Crash-window and visibility semantics are the
    * protocol's — see [[CommitProtocol]] (atomicity, debris, the
    * tolerated-absent-target rule recovery verbs rely on).
    *
    * Every swap additionally holds a PER-TARGET writer lease (r17: a
    * sibling lock, since the swap replaces `target` itself), so two
    * writers racing the SAME directory — two Pipelines ingesting into
    * one warehouse, a maintenance job racing an ingest on one table —
    * fail loud at the swap instead of interleaving their publishes.
    * This nests cleanly under the store-level leases (a shard verb holds
    * `$store/_writer.lock` while its per-subdirectory swaps each take
    * `.$name_writer.lock` — different files by construction), and on
    * stores without atomic create it degrades with the installed
    * [[LeaseProtocol]] exactly like every other lease.
    *
    * The write callback is OPAQUE to the lease (no progress points), and
    * a whole-table publish can outlive any fixed ttl — so the swap lease
    * is kept live by a heartbeat ([[StoreLease.withHeartbeatChecked]],
    * whose check runs between the write and the publish) for the
    * duration of the write + publish, rather than by a ttl the caller
    * would have to size per table.
    */
  def swapIn(target: Path)(write: Path => Unit): Unit =
    swapIn(target, Nil)(write)

  /** [[swapIn]] additionally re-proving the given GUARD leases — the
    * store-level writer leases of the verb this swap commits for — at
    * the pre-publish instant (r17 verdict #2): each guard passes the
    * fencing-token comparison ([[LeaseProtocol.Held.fence]]) and a
    * synchronous renewal, so a shard verb whose store lease was stolen
    * mid-verb has its manifest splice REJECTED before the rename lands,
    * not loudly regretted after. Guards renew at their holders' progress
    * points as before; this is the one extra check at the moment that
    * matters most.
    */
  def swapIn(target: Path, guards: Seq[LeaseProtocol.Held])(write: Path => Unit): Unit =
    StoreLease.withRenewableLease(target.toString, "swap", sibling = true) { lease =>
      StoreLease.withHeartbeatChecked(lease, StoreLease.DefaultTtlMs / 3L) { check =>
        CommitProtocol.current.swapIn(target) { tmp =>
          write(tmp)
          // prove every lease involved is STILL exclusively ours after
          // the write and before the protocol renames tmp into place
          // (ADVICE r17: a heartbeat failure used to surface only after
          // the publish had landed) — a known-lost or out-fenced lease
          // aborts here, unpublished
          guards.foreach(g => StoreLease.assertFenced(g, s"pre-publish of $target"))
          check()
        }
      }
    }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively)
      finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
