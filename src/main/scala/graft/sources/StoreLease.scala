package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The lease protocol behind every writer lease in the engine — the same
  * injectable seam [[CommitProtocol]] gives the directory swap (r16
  * verdict #3): [[StoreLease.withLease]] delegates to the INSTALLED
  * protocol, so an object-store deployment routes lease acquisition to a
  * real lock service (DynamoDB / ZooKeeper / etcd) instead of silently
  * degrading to best-effort file locks, with no verb changing.
  *
  * LEASE CONTRACT (what an implementation must provide):
  *
  *   - MUTUAL EXCLUSION: `acquire` returns a held lease or throws
  *     `IllegalStateException` while another writer's lease on the same
  *     `storePath` is live. How strong the exclusion is is the
  *     protocol's choice — [[FileLease]] is atomic-create-arbitrated
  *     (POSIX / HDFS), a lock-service protocol can be genuinely
  *     linearizable.
  *   - EXPIRY: a lease lapses `ttlMs` after its last acquire/renew, so a
  *     crashed holder never blocks maintenance forever. A protocol may
  *     free verifiably-dead holders earlier (the file lease's same-host
  *     pid liveness check).
  *   - RENEWAL ([[LeaseProtocol.Held.renew]]): re-stamp the expiry to
  *     now + the acquisition ttl. Must fail LOUD when the lease was
  *     stolen or already lapsed — a renewal can extend only a hold that
  *     is still exclusively ours.
  *   - RELEASE ([[LeaseProtocol.Held.release]]): give the lease back;
  *     returns None on a clean release of a still-live own hold, or
  *     Some(description) when the hold was lost (stolen / lapsed /
  *     vanished) — the caller raises, because once exclusivity lapsed a
  *     second writer may have interleaved with the verb's writes. A
  *     release must NEVER remove another writer's live lease (the file
  *     lease arbitrates by rename; a lock service compares owners
  *     transactionally).
  */
trait LeaseProtocol {

  /** Stable name, matched by [[StoreLease.forName]] (and so by
    * `GraftConfig.leaseProtocol`).
    */
  def name: String

  /** Acquire the writer lease on the store at `storePath` for `verb`
    * (named in contention errors), lapsing `ttlMs` from now unless
    * renewed. `sibling = true` asks FILE-BASED protocols to keep the
    * lock OUTSIDE the store root — for stores whose root is itself the
    * parquet dataset (a plain `mode("overwrite")` deletes the root
    * wholesale, lock included); protocols keyed on the path string alone
    * (lock services) may ignore it, since both placements of one store
    * share the same `storePath` key only when every writer passes the
    * same flag — which they do, because the flag is fixed per VERB
    * family, never per caller.
    */
  def acquire(storePath: String, verb: String, ttlMs: Long, sibling: Boolean): LeaseProtocol.Held
}

object LeaseProtocol {

  /** A held writer lease — the handle a long verb heartbeats through. */
  trait Held {
    /** `pid@host#nonce`-style identity of this acquisition, for error
      * messages.
      */
    def ownerId: String

    /** FENCING TOKEN (r17 verdict #2, the Chubby/ZooKeeper convention):
      * a number minted at acquire that is strictly greater than every
      * fence any EARLIER acquisition of this store's lease observed.
      * Together with [[newestFence]] it closes the documented hairline
      * the lock file alone cannot: a writer about to publish compares
      * its fence against the newest granted one and REFUSES to commit
      * when a later lease exists — so a stolen-from writer's late
      * publish is rejected as soon as the steal has been granted, even
      * before the stealer commits anything. Protocols without fencing
      * support inherit the vacuous default (0 / own fence), degrading
      * to renewal-only checking.
      */
    def fence: Long = 0L

    /** The highest fence granted for this store so far — re-read from
      * the protocol's persistent state at call time, so the comparison
      * `newestFence() > fence` means "someone acquired after me".
      */
    def newestFence(): Long = fence

    /** Heartbeat: extend the lease to now + the acquisition ttl. Loud
      * `IllegalStateException` when the lease was stolen, lapsed before
      * the renewal, or vanished — the long verb must stop, not keep
      * writing into a store another writer may now own. Call at natural
      * progress points (per shard in a compaction, per batch in an
      * append) so the verb's protection outlives any fixed ttl.
      */
    def renew(): Unit

    /** Give the lease back. None = clean release (the hold was live and
      * exclusively ours to the end). Some(description) = the hold was
      * lost — [[StoreLease.withRenewableLease]] raises with it, naming
      * the verb and store.
      */
    def release(): Option[String]
  }
}

/** Writer LEASE for an on-disk store directory (r15 verdict #2): turns
  * the persisted stores' "single-writer" docstring convention into a
  * checked invariant. Every mutating store verb — the shard store's
  * export/append/retract/compact
  * ([[graft.operators.SequencePacking]]), the maintained word
  * histogram's write/append ([[graft.operators.TextAnalysis]]), the
  * persisted ANN
  * indexes ([[graft.operators.VectorSearch]]'s
  * writeLsh/writeBandedLsh) and tokenizer artifacts
  * ([[graft.operators.TextAnalysis.writeTokenizer]]) — runs under
  * [[withLease]]; a second concurrent writer — another job's append
  * racing a takedown from a different driver — fails LOUDLY at
  * acquisition instead of silently interleaving pending markers, ledger
  * rows, and manifest splices.
  *
  * This object is the FACADE: verbs call [[withLease]] /
  * [[withRenewableLease]], which delegate to the installed
  * [[LeaseProtocol]] ([[FileLease]] by default — atomic-create file
  * locks, mechanics below; a deployment over a store without atomic
  * create installs its lock service via [[install]] or
  * `GraftConfig.leaseProtocol`, the [[CommitProtocol]] convention).
  */
object StoreLease {

  val LockFileName = "_writer.lock"

  /** Default lease lifetime. Long enough for any single verb at the
    * engine's scale rehearsal sizes ×100; short enough that a crashed
    * REMOTE holder (same-host crashes steal immediately via the pid
    * liveness check) does not block a day's maintenance window. Long
    * verbs do not need a longer ttl — they RENEW at progress points
    * ([[LeaseProtocol.Held.renew]]), so the ttl only bounds how long a
    * genuinely-stalled holder blocks the store.
    */
  val DefaultTtlMs: Long = 15L * 60L * 1000L

  @volatile private var installed: LeaseProtocol = FileLease

  /** The protocol every [[withLease]] call acquires through. */
  def current: LeaseProtocol = installed

  /** Install a protocol PROCESS-GLOBALLY (the [[CommitProtocol.install]]
    * convention: the lease is a deployment property, not a per-store
    * one). Install once at startup, before any verb runs.
    */
  def install(p: LeaseProtocol): Unit = { installed = p }

  /** Resolve a protocol by `GraftConfig.leaseProtocol` name. */
  def forName(name: String): LeaseProtocol = name match {
    case "file" => FileLease
    case other =>
      throw new IllegalArgumentException(
        s"unknown lease protocol '$other' (know: file); install a custom " +
          "LeaseProtocol via StoreLease.install instead")
  }

  /** Run `f` while a daemon thread renews `lease` every `periodMs` —
    * for verbs whose long pole is an OPAQUE callback with no progress
    * points to renew at (the swap's write callback, a whole-table
    * publish). Progress-point renewal stays the primary pattern
    * (compact/retract/append renew per shard/batch); this is the escape
    * hatch for callbacks the lease holder cannot see into. A renewal
    * failure mid-callback (stolen/lapsed lease) is rethrown as soon as
    * the callback returns — the work may have happened, but it is NOT
    * reported as success, because exclusivity lapsed mid-verb.
    *
    * `f` gets a `check` thunk that PROVES the lease is still exclusively
    * ours at the instant of the call: it rethrows any failure the
    * background heartbeat already recorded, then runs a synchronous
    * renewal (loud on stolen/lapsed), serialized with the beat thread.
    * Call it at the last point before a publish (ADVICE
    * r17: without it, a lease known-lost mid-write was only surfaced
    * AFTER the swap's rename had already landed — post-hoc loudness
    * where an abort-before-publish was available). A check that throws
    * aborts the enclosing commit protocol's publish; the residual
    * check-to-rename gap is the documented advisory-lock hairline.
    */
  def withHeartbeatChecked[T](lease: LeaseProtocol.Held, periodMs: Long)(
      f: (() => Unit) => T): T = {
    require(periodMs > 0L, s"heartbeat period must be positive, got $periodMs")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.CountDownLatch(1)
    val renewGate = new Object
    val beat = new Thread(() => {
      try {
        while (!stop.await(periodMs, java.util.concurrent.TimeUnit.MILLISECONDS))
          renewGate.synchronized { lease.renew() }
      } catch { case e: Throwable => failure.set(e) }
    }, "graft-lease-heartbeat")
    beat.setDaemon(true)
    beat.start()
    def check(): Unit = {
      val hb = failure.get()
      if (hb != null)
        throw new IllegalStateException(
          s"StoreLease: lease heartbeat failed mid-verb — aborting before " +
            s"publish: ${hb.getMessage}", hb)
      requireFenceCurrent(lease, "heartbeat check")
      renewGate.synchronized { lease.renew() }
    }
    var failed = false
    try f(() => check())
    catch { case e: Throwable => failed = true; throw e }
    finally {
      stop.countDown()
      beat.join(5000L)
      val hb = failure.get()
      if (hb != null && !failed) {
        // f completed without observing the failure (it may never have
        // called check, or the beat failed after the last check)
        throw new IllegalStateException(
          s"StoreLease: lease heartbeat failed mid-verb: ${hb.getMessage}", hb)
      } else if (hb != null) {
        System.err.println(
          s"[store-lease] lease heartbeat failed mid-verb: ${hb.getMessage}")
      }
    }
  }

  /** Refuse to proceed when a LATER lease than `held` has been granted
    * on its store (the fencing-token comparison — see
    * [[LeaseProtocol.Held.fence]]). Loud: once a later fence exists,
    * this writer's hold was stolen or lapsed-and-reacquired, and any
    * publish it makes could land OVER the newer writer's state.
    */
  private[graft] def requireFenceCurrent(held: LeaseProtocol.Held, context: String): Unit = {
    val newest = held.newestFence()
    if (newest > held.fence)
      throw new IllegalStateException(
        s"StoreLease: refusing to proceed ($context) — this writer holds " +
          s"fence ${held.fence} (owner ${held.ownerId}) but a LATER lease " +
          s"(fence $newest) has been granted on the store: the hold was stolen " +
          "or lapsed and reacquired. Abort without publishing; re-verify " +
          "the store before trusting it.")
  }

  /** Prove `held` is still the NEWEST, LIVE lease on its store at this
    * instant: the fencing comparison, then a synchronous renewal (loud
    * on stolen/lapsed). Verbs call this at the last point before a
    * publish — [[graft.sources.Catalog.swapIn]] runs it on every guard
    * lease between the write callback and the protocol's commit rename.
    */
  def assertFenced(held: LeaseProtocol.Held, context: String): Unit = {
    requireFenceCurrent(held, context)
    held.renew()
  }

  /** Canonical spelling of the lease KEY handed to the protocol: two
    * writers spelling one store differently (trailing slash, relative vs
    * absolute) must contend on ONE lease — the file lease absolutizes
    * internally anyway, but a lock-service protocol keyed on the raw
    * string would otherwise mint two disjoint leases for the same store.
    * One rule shared with the cursor stamps ([[graft.util.PathKeys]]).
    */
  private def normalizeKey(p: String): String = graft.util.PathKeys.normalize(p)

  /** Run `f` under protocol `p`, restoring the previous protocol after —
    * the spec harness's entry point (process-global like [[install]]:
    * do not interleave with concurrent verbs under a different protocol).
    */
  private[graft] def withProtocol[T](p: LeaseProtocol)(f: => T): T = {
    val prev = installed
    installed = p
    try f finally { installed = prev }
  }

  /** Run `f` (one store verb) holding the store's writer lease.
    * Loud `IllegalStateException` when another writer holds a live lease;
    * loud steal (stderr) when the held lease is dead. After `f`, a clean
    * release requires the hold to still be live and ours — otherwise the
    * verb raises instead of returning success, because once the lease
    * lapsed a second writer may have interleaved (re-check the store
    * before trusting it; verbs that legitimately
    * outlive the ttl should renew via [[withRenewableLease]] instead of
    * raising it).
    */
  def withLease[T](
      storePath: String,
      verb: String,
      ttlMs: Long = DefaultTtlMs,
      sibling: Boolean = false
  )(f: => T): T =
    withRenewableLease(storePath, verb, ttlMs, sibling)(_ => f)

  /** [[withLease]] handing `f` the held lease, so a long verb can
    * heartbeat ([[LeaseProtocol.Held.renew]]) at its progress points —
    * per shard in a compaction, per batch in an append — and stay
    * protected past any fixed ttl (r16 verdict #2: without renewal,
    * every >ttl maintenance verb completed its work then reported
    * failure).
    */
  def withRenewableLease[T](
      storePath: String,
      verb: String,
      ttlMs: Long = DefaultTtlMs,
      sibling: Boolean = false
  )(f: LeaseProtocol.Held => T): T = {
    require(ttlMs > 0L, s"lease ttl must be positive, got $ttlMs")
    val held = installed.acquire(normalizeKey(storePath), verb, ttlMs, sibling)
    var failed = false
    try f(held)
    catch { case e: Throwable => failed = true; throw e }
    finally {
      held.release() match {
        case None => ()
        case Some(what) =>
          val msg =
            s"StoreLease: lease on $storePath lost mid-verb '$verb' — this writer's " +
              s"hold (owner ${held.ownerId}) is $what after exceeding its ${ttlMs}ms TTL. " +
              "A second writer may have interleaved with this verb's " +
              "writes: re-verify the store before trusting it; long verbs " +
              "should renew the lease at progress points."
          if (failed) System.err.println(s"[store-lease] $msg")
          else throw new IllegalStateException(msg)
      }
    }
  }
}

/** The default [[LeaseProtocol]]: one lock FILE per store.
  *
  * Mechanics: a `_writer.lock` file at the store root (underscore
  * prefix — invisible to every parquet read, which all target
  * subdirectories anyway; `sibling = true` keeps it at a dot-prefixed
  * SIBLING of the store root instead, for stores whose root is itself
  * the overwritten parquet dataset), holding `owner|expiresAtEpochMs|
  * verb` with `owner = pid@host#nonce`. Acquisition is `CREATE_NEW` —
  * atomic on POSIX and HDFS-like stores — followed by a read-back
  * confirming the hold survived any racing stealer. A holder is DEAD
  * when its lease expired, when its recorded pid verifiably no longer
  * runs on THIS host (crash recovery without waiting out the TTL — a
  * replayed streaming batch must heal immediately, not crash-loop for
  * 15 minutes), or when the lock file is unreadable AND older than the
  * TTL (a writer mid-write has a fresh mtime and is treated as LIVE —
  * never steal what can't be read unless it is too old to still be
  * being written). Steals are arbitrated by an ATOMIC_MOVE of the dead
  * lock to a unique debris name — exactly one racing stealer's rename
  * succeeds — and announced loudly on stderr; releases arbitrate the
  * SAME way (rename-then-verify), so a release can never erase a lock
  * it no longer owns (ADVICE r16). The documented recovery for a
  * crashed holder is therefore: same host — automatic; different host —
  * wait out the TTL (or delete the lock by hand after confirming the
  * holder is dead); the verbs' own crash-window machinery heals the
  * half-applied state.
  *
  * Scope and honesty: the lease defends the VERBS' mutation windows
  * against each other on stores with atomic create/rename; a residual
  * hairline window exists between a stealer's liveness re-check and its
  * rename (filesystems have no compare-and-swap), which is why this is
  * an operational guard against concurrent-writer MISTAKES, not a
  * distributed lock service. It is advisory against writers that bypass
  * the verb API, and on stores without atomic create it degrades to
  * best-effort — install the deployment's lock service as the
  * [[LeaseProtocol]] there, the same way [[CommitProtocol]] routes the
  * swap.
  */
object FileLease extends LeaseProtocol {

  override def name: String = "file"

  private def lockPath(storePath: String, sibling: Boolean): Path = {
    val root = Paths.get(storePath).toAbsolutePath
    if (sibling) {
      // ADVICE r17: a filesystem-root store path has no file name — the
      // sibling-lock name would interpolate "null" (and the root has no
      // sibling to place it at anyway). Refuse loudly instead.
      require(root.getFileName != null && root.getParent != null,
        s"StoreLease: cannot place a sibling lock for store '$storePath' — " +
          "the filesystem root has no name and no sibling; a lockable store " +
          "must live in a real directory")
      root.resolveSibling(s".${root.getFileName}_${StoreLease.LockFileName.stripPrefix("_")}")
    } else root.resolve(StoreLease.LockFileName)
  }

  override def acquire(
      storePath: String,
      verb: String,
      ttlMs: Long,
      sibling: Boolean
  ): LeaseProtocol.Held = {
    val lock = lockPath(storePath, sibling)
    val owner = acquireAt(lock, storePath, verb, ttlMs)
    // the mint must come AFTER winning (an acquire-race loser bumping the
    // counter would spuriously out-fence the live holder), so a mint
    // failure has already placed the lock: release it before rethrowing,
    // or the store stays locked for the full ttl with no verb running
    // (review r18 — disk-full between the two steps)
    val fence =
      try mintFence(lock)
      catch {
        case e: Throwable =>
          try {
            if (readHolder(lock).exists(_._1 == owner)) Files.deleteIfExists(lock)
          } catch { case _: Exception => () }
          throw e
      }
    new Held(lock, storePath, owner, verb, ttlMs, fence)
  }

  /** The fence COUNTER file: a sibling of the lock holding the highest
    * fence ever granted for this store. Minted (+1, via temp +
    * ATOMIC_MOVE) by each successful acquire while the winner holds the
    * lock; it survives releases and steals — deliberately, that
    * persistence IS the monotonic record the fencing comparison reads.
    * In the documented double-hold hairline two winners can mint equal
    * fences (no CAS on a filesystem); equal fences degrade to the
    * renewal-only checking the lease had before fencing — never worse.
    */
  private def fencePath(lock: Path): Path =
    lock.resolveSibling(s".${lock.getFileName}_fence")

  /** Absent fence file = 0 (no fence ever minted — a pre-fencing store).
    * Anything else that prevents reading the value is LOUD (review r18):
    * silently reading 0 on a transient IO error or a corrupt file would
    * disable the fencing comparison at exactly the pre-publish instant
    * it exists for. Corruption cannot come from the mint (temp +
    * ATOMIC_MOVE) — a garbled file means outside interference, which is
    * precisely not the moment to publish.
    */
  private def readFence(p: Path): Long =
    try Files.readString(p).trim.toLong
    catch {
      case _: java.nio.file.NoSuchFileException => 0L
      case e: Exception =>
        throw new IllegalStateException(
          s"StoreLease: cannot read the fence counter at $p ($e) — refusing " +
            "to treat an unreadable fence as 'no fence'; resolve the file " +
            "state before publishing", e)
    }

  private def mintFence(lock: Path): Long = {
    val fp = fencePath(lock)
    val next = readFence(fp) + 1L
    val tmp = fp.resolveSibling(
      s"${fp.getFileName}_mint_${java.lang.Long.toHexString(System.nanoTime())}")
    Files.write(tmp, next.toString.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
    Files.move(tmp, fp, StandardCopyOption.ATOMIC_MOVE)
    next
  }

  private final class Held(
      lock: Path, store: String, owner: String, verb: String, ttlMs: Long,
      myFence: Long)
      extends LeaseProtocol.Held {

    override def ownerId: String = owner

    override def fence: Long = myFence

    override def newestFence(): Long = readFence(fencePath(lock))

    // renew/release are read-modify-write on the lock FILE (filesystems
    // have no CAS), so intra-process callers must serialize per Held:
    // concurrent per-shard publish jobs (guide §2.6) renew the shared
    // store lease from several threads, and a reader overlapping a
    // TRUNCATE_EXISTING rewrite would see a torn file and abort a healthy
    // verb. Cross-process races remain arbitrated by content+rename as
    // documented below.
    override def renew(): Unit = this.synchronized {
      val now = System.currentTimeMillis()
      // Refuse a renewal landing inside the last tenth of the ttl: the
      // rewrite below is read-then-truncate (filesystems have no CAS),
      // and a lease that expires BETWEEN the read and the write lets a
      // completed steal be silently overwritten. The guard turns that
      // hairline into a loud refusal unless the thread stalls longer
      // than ttl/10 between two adjacent lines — renew at progress
      // points well before expiry (the heartbeat period is ttl/3).
      val guardMs = math.max(1L, ttlMs / 10L)
      readHolder(lock) match {
        case Some((o, expiresAt, _)) if o == owner && expiresAt - now > guardMs =>
          try
            Files.write(lock, s"$owner|${now + ttlMs}|$verb".getBytes(UTF_8),
              StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
          catch {
            case e: java.io.IOException =>
              throw new IllegalStateException(
                s"StoreLease: renewal of the lease on $store failed mid-verb " +
                  s"'$verb' (owner $owner): the lock vanished under the rewrite ($e). " +
                  "Stop the verb — exclusivity is no longer assured.")
          }
        case Some((o, _, _)) if o != owner =>
          throw new IllegalStateException(
            s"StoreLease: cannot renew — the lease on $store was STOLEN by " +
              s"$o mid-verb '$verb' (this writer: $owner). Stop the verb; the store " +
              "must be re-verified before trusting it.")
        case Some(_) =>
          throw new IllegalStateException(
            s"StoreLease: cannot renew — this writer's lease on $store " +
              s"LAPSED (or is within ${guardMs}ms of lapsing) at the renewal " +
              s"(verb '$verb', owner $owner, ttl ${ttlMs}ms). A stealer may " +
              "already be acting on the expiring lock (left in place); " +
              "renew at shorter intervals or raise the ttl.")
        case None =>
          throw new IllegalStateException(
            s"StoreLease: cannot renew — the lock on $store is gone or " +
              s"unreadable mid-verb '$verb' (owner $owner). Stop the verb; " +
              "exclusivity is no longer assured.")
      }
    }

    override def release(): Option[String] = this.synchronized {
      val now = System.currentTimeMillis()
      readHolder(lock) match {
        case Some((o, expiresAt, _)) if o == owner && expiresAt >= now =>
          // Arbitrated release (ADVICE r16): rename our lock to debris,
          // then VERIFY the debris is ours before deleting it. A plain
          // delete has a TOCTOU hole — between the read above and the
          // delete, the lease could expire and a stealer could publish
          // its own lock, which the delete would then erase. The rename
          // consumes exactly one file; if it turns out not to be ours,
          // the victim's content is preserved and restored.
          val debris = lock.resolveSibling(
            s".${lock.getFileName}_released_${java.lang.Long.toHexString(System.nanoTime())}")
          try {
            Files.move(lock, debris, StandardCopyOption.ATOMIC_MOVE)
            readHolder(debris) match {
              case Some((o2, _, _)) if o2 == owner =>
                Files.deleteIfExists(debris)
                None
              case other =>
                // we renamed a lock we no longer owned (lease expired in
                // the hairline between read and rename, and a stealer
                // published): put the victim's lock back — but ONLY if no
                // fresh lock has appeared at `lock` meanwhile. POSIX
                // rename silently REPLACES an existing target (it does
                // not throw, ADVICE r17), so an unconditional restore
                // could clobber a just-published second stealer's live
                // claim with the stale one. Re-reading first narrows the
                // hairline to the read-vs-move gap; when a fresh lock IS
                // present we keep the displaced one as debris and say so
                // loudly — never knowingly erase a live claim.
                def preserveDebris(): Unit =
                  System.err.println(
                    s"[store-lease] release raced a steal on $lock; the displaced " +
                      s"lock is preserved at $debris — resolve by hand after " +
                      "confirming which writer is live")
                if (!Files.exists(lock)) {
                  try Files.move(debris, lock, StandardCopyOption.ATOMIC_MOVE)
                  catch { case _: java.nio.file.FileSystemException => preserveDebris() }
                } else preserveDebris()
                Some(s"stolen by ${other.fold("an unreadable holder")(_._1)} during release")
            }
          } catch {
            case _: java.nio.file.NoSuchFileException =>
              Some("released/unreadable")
          }
        case Some((o, _, _)) if o == owner =>
          // ours but EXPIRED: leave the file — deleting it here could
          // erase a racing stealer's claim mid-steal, and the lapse
          // itself must be reported either way
          Some("EXPIRED while held (left in place for stealers)")
        case Some((o, _, _)) => Some(s"stolen by $o")
        case None => Some("released/unreadable")
      }
    }
  }

  /** `owner|expiresAtMs|verb` parsed from the lock file; None when absent
    * or torn. Torn files are stealable only via the mtime rule in
    * [[acquireAt]].
    */
  private def readHolder(lock: Path): Option[(String, Long, String)] =
    try {
      val parts = Files.readString(lock).trim.split('|')
      if (parts.length == 3) Some((parts(0), parts(1).toLong, parts(2))) else None
    } catch { case _: Exception => None }

  /** True when `owner` (pid@host#nonce) names a pid on THIS host that
    * verifiably no longer runs — the crashed-holder fast path. A foreign
    * host or an unparseable owner is never "dead" by this check (the TTL
    * handles those).
    */
  private def holderDeadOnThisHost(owner: String): Boolean = {
    val at = owner.indexOf('@')
    val hash = owner.indexOf('#')
    if (at <= 0 || hash <= at) return false
    val host = owner.substring(at + 1, hash)
    if (host != localHost) return false
    try {
      val pid = owner.substring(0, at).toLong
      ProcessHandle.of(pid).isEmpty
    } catch { case _: NumberFormatException => false }
  }

  private lazy val localHost: String = java.net.InetAddress.getLocalHost.getHostName

  private def acquireAt(lock: Path, store: String, verb: String, ttlMs: Long): String = {
    Files.createDirectories(lock.toAbsolutePath.getParent)
    val owner =
      s"${ProcessHandle.current().pid()}@$localHost" +
        s"#${java.lang.Long.toHexString(System.nanoTime())}"
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      val content = s"$owner|${System.currentTimeMillis() + ttlMs}|$verb"
      val won =
        try {
          Files.write(lock, content.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (won) {
        // confirm the hold survived: a racer acting on a stale expired
        // read could have clobbered the fresh lock between our create and
        // now — re-read and only claim the lease if it still names us
        if (readHolder(lock).exists(_._1 == owner)) return owner
        // else fall through: live contention, retry the loop
      } else {
        val now = System.currentTimeMillis()
        val held = readHolder(lock)
        held match {
          case Some((heldOwner, expiresAt, heldVerb))
              if expiresAt >= now && !holderDeadOnThisHost(heldOwner) =>
            throw new IllegalStateException(
              s"StoreLease: store at $store is held by writer $heldOwner " +
                s"(verb '$heldVerb', lease live for another ${expiresAt - now}ms) — " +
                "a second concurrent writer would interleave ledger rows and manifest " +
                "splices undetectably, so this verb refuses to start. If the holder " +
                s"crashed, its lease expires on its own; deleting ${lock.getFileName} " +
                "by hand is safe ONLY after confirming no writer is running.")
          case None if mtimeWithin(lock, ttlMs, now) =>
            // torn but FRESH: a writer is likely mid-create — a live hold
            throw new IllegalStateException(
              s"StoreLease: store at $store holds an unreadable but " +
                "recently-written lock — treating it as a LIVE writer mid-acquire. " +
                "Retry; if it persists past the ttl it becomes stealable.")
          case _ =>
            // DEAD holder: expired lease, a verifiably-dead same-host pid,
            // or a torn file older than the ttl. Steal via ATOMIC_MOVE to
            // a unique debris name — exactly one racing stealer's rename
            // succeeds; losers loop and re-evaluate the fresh lock.
            // Re-read first: if the state changed since `held`, act on the
            // new state next iteration instead of renaming a fresh lock.
            if (readHolder(lock) == held) {
              val aside = lock.resolveSibling(
                s".${lock.getFileName}_stolen_${java.lang.Long.toHexString(System.nanoTime())}")
              try {
                Files.move(lock, aside, StandardCopyOption.ATOMIC_MOVE)
                System.err.println(
                  s"[store-lease] stole dead lease on $store: " +
                    s"${held.fold("unreadable stale holder")(h =>
                      s"holder ${h._1} (verb '${h._3}', expiry ${h._2}, " +
                        s"${if (holderDeadOnThisHost(h._1)) "pid dead on this host" else "expired"})")} " +
                    s"(now=$now, stealer=$owner, verb '$verb'). If the dead holder " +
                    "crashed mid-verb, this verb's crash-window machinery heals its debris.")
                Files.deleteIfExists(aside)
              } catch { case _: java.nio.file.NoSuchFileException => () } // another stealer won
            }
        }
      }
    }
    throw new IllegalStateException(
      s"StoreLease: lost the acquisition race on $lock 8 times — live contention; " +
        "refusing to spin (a second writer is actively working this store)")
  }

  /** True when the lock's mtime is younger than `ttlMs` — i.e. it could
    * still be being written. A vanished file reads as "not fresh" (the
    * caller loops and re-evaluates).
    */
  private def mtimeWithin(lock: Path, ttlMs: Long, now: Long): Boolean =
    try Files.getLastModifiedTime(lock).toMillis > now - ttlMs
    catch { case _: Exception => false }
}
