package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-resident derived structures: the FTS postings, IVF cells,
  * connected-component dedup labels and prepared PageRank graphs that are
  * built once per corpus key at ingest time and then read by every query
  * (the reference builds its FTS index once per batch, after load, and
  * serves every search from it).
  *
  * One decision lives here: how such a structure is built once per key,
  * shared across requests, and released. Operators declare a typed
  * [[Namespace]] and keep only their build functions.
  *
  * Locking: each key has its own monitor, never a `ConcurrentHashMap` bin
  * lock. Builds run Spark jobs while holding it, and a bin lock would
  * stall unrelated keys that hash to the same bin behind a full build
  * (and throw on a reentrant access from the same thread). Slots are
  * never removed (one small object per key ever seen), so two threads can
  * never hold different monitors for the same key.
  */
object SessionIndices {

  /** A built structure plus exactly the storage its build function hands over:
    * `persisted` frames are unpersisted and `pinned` checkpoint RDD ids
    * go through [[Checkpoints.release]] (blocks in local mode, files in
    * reliable mode) when the entry is dropped or replaced. RDD ids are numbered
    * per SparkContext, so the ids are released against `pinnedIn`, the
    * session of the frames they were read from, never whichever session
    * happens to be active at release time.
    */
  final case class Resident[A](
      value: A,
      persisted: Seq[DataFrame] = Nil,
      pinned: Set[Int] = Set.empty,
      pinnedIn: Option[SparkSession] = None)

  object Resident {
    /** An entry that owns the checkpoint storage behind `frames`. */
    def pinning[A](value: A, frames: DataFrame*): Resident[A] =
      Resident(value, pinned = Checkpoints.pinnedRddIds(frames: _*),
        pinnedIn = frames.headOption.map(_.sparkSession))
  }

  private final class Slot { var entry: Option[Resident[_]] = None }
  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Slot]()
  private def slot(key: String): Slot = slots.computeIfAbsent(key, _ => new Slot)

  /** One operator's keys. Namespaces keep operators' keys disjoint, so an
    * entry is only ever read back as the type it was built as.
    */
  final class Namespace[A] private[SessionIndices] (name: String) {
    private def slotOf(key: String): Slot = slot(s"$name:$key")

    /** The entry under `key`, built by `build` if absent. */
    def getOrBuild(key: String)(build: => Resident[A]): A = {
      val s = slotOf(key)
      s.synchronized {
        s.entry match {
          case Some(r) => r.value.asInstanceOf[A]
          case None =>
            val r = build
            s.entry = Some(r)
            r.value
        }
      }
    }

    /** Atomically replace the entry under `key` with `f(current)`. The new
      * entry must carry every piece of storage it still uses from the old
      * one; the old entry's storage that it does not carry is released.
      */
    def update(key: String)(f: Option[Resident[A]] => Resident[A]): A = {
      val s = slotOf(key)
      s.synchronized {
        val old = s.entry
        val r = f(old.asInstanceOf[Option[Resident[A]]])
        s.entry = Some(r)
        old.foreach(o => release(Resident(o.value,
          o.persisted.filterNot(p => r.persisted.exists(_ eq p)), o.pinned -- r.pinned, o.pinnedIn)))
        r.value
      }
    }
  }

  def namespace[A](name: String): Namespace[A] = new Namespace[A](name)

  private def invalidate(fullKey: String): Unit =
    Option(slots.get(fullKey)).foreach { s =>
      s.synchronized {
        val old = s.entry
        s.entry = None
        old.foreach(release)
      }
    }

  private def release(r: Resident[_]): Unit = {
    // a stopped context took its blocks with it
    r.persisted.filterNot(_.sparkSession.sparkContext.isStopped).foreach(_.unpersist())
    r.pinnedIn.filterNot(_.sparkContext.isStopped).foreach(Checkpoints.release(r.pinned, _))
  }

  /** Drop and release every entry of every namespace (the warehouse-flush
    * companion).
    */
  def clear(): Unit = {
    import scala.jdk.CollectionConverters._
    slots.keySet().asScala.toSeq.foreach(invalidate)
  }
}
