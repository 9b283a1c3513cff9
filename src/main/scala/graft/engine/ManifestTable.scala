package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.FooterSchema

/** Atomic table publication by MANIFEST-pointer indirection — the
  * copy-on-write publish the w-family's plain-parquet DROP+RENAME swap
  * could not make atomic (SURVEY §7 risk 1; the reference closes the
  * same gap with per-step DB transactions, dbccore.py:857-888; Delta/
  * Iceberg close it with commit logs).
  *
  * Layout: `root/MANIFEST` is a one-line pointer naming the current
  * version directory `root/v{gen}-{uuid8}/` (plain parquet). Readers
  * resolve the pointer, then scan; publishers write a COMPLETE new
  * version directory and swap the pointer with one atomic rename — so
  * any reader (this session, another Spark session, another engine
  * entirely) sees the old version or the new one, never a mixture and
  * never a missing table. In-session readers go through a session view
  * re-pointed with a single `CREATE OR REPLACE TEMPORARY VIEW` (one
  * catalog operation, same no-torn-read property).
  *
  * Filesystem routing: data and version directories always go through
  * Spark's Hadoop FS; the pointer swap uses NIO `ATOMIC_MOVE` on
  * local/`file:` roots (a true atomic replace — Hadoop's local
  * rename-with-overwrite is delete-then-rename, which opens a
  * missing-pointer window) and `FileContext.rename(OVERWRITE)` on other
  * schemes (atomic on HDFS, where the NameNode applies it as one edit).
  * Plain object stores have NO atomic rename — on s3:// and friends the
  * pointer swap degrades to copy+delete and the no-torn-read guarantee
  * requires a store- or layer-level primitive (conditional PUT, HBOSS,
  * a real table format); use one of those there, not this class.
  *
  * Concurrency contract: any number of READERS race any single
  * publisher safely. Publishers are serialized per root by a
  * best-effort `.PUBLISH_LOCK` file (atomic create-new; a second
  * publisher fails loudly with [[ConcurrentPublishException]] instead
  * of corrupting the table; locks older than 10 minutes are presumed
  * crashed and broken). As a second line of defense, GC re-reads the
  * pointer AFTER the swap and keeps whatever version the live pointer
  * names plus its highest-generation predecessor — so even if two
  * publishers slip past the lock, neither can delete the directory the
  * winning pointer points to.
  *
  * GC keeps the current AND previous version directories (a bounded
  * in-flight-reader horizon, the same contract as Iceberg snapshot
  * expiry: a reader that resolved the pointer more than one publish ago
  * has no liveness guarantee); everything older is deleted.
  *
  * At 100 TB nothing else changes: the version directory is whatever
  * the job wrote (partitioned, bucketed), and the pointer is still one
  * tiny file.
  */
object ManifestTable {

  private val Pointer = "MANIFEST"
  private val Lock = ".PUBLISH_LOCK"
  private val LockStaleMs = 10 * 60 * 1000L

  // --- pluggable pointer medium -------------------------------------
  // Roots under an installed prefix run their pointer swap and publish
  // lock through a conditional-PUT PointerStore instead of atomic
  // rename — the object-store deployment path (s3://, gs://, abfs://
  // have no atomic rename; they DO have conditional PUT). Everything
  // else keeps the rename machinery below.
  private val pointerStores =
    new java.util.concurrent.ConcurrentHashMap[String, PointerStore]()

  /** Route every root under `prefix` through `store`. Longest installed
    * prefix wins. */
  def installPointerStore(prefix: String, store: PointerStore): Unit =
    pointerStores.put(prefix, store)

  def removePointerStore(prefix: String): Unit =
    pointerStores.remove(prefix)

  private def storeFor(root: String): Option[PointerStore] = {
    var best: Option[(String, PointerStore)] = None
    pointerStores.forEach { (pre, st) =>
      // path-boundary match: "/bucket/tableA" must NOT capture the
      // sibling root "/bucket/tableA_archive". Normalize trailing
      // slashes on BOTH sides — a prefix installed as "s3://b/tbl/"
      // must still match its own exact root "s3://b/tbl", or that root
      // silently degrades to the rename-based machinery the store
      // exists to replace.
      val preN = pre.stripSuffix("/")
      val hit = root.stripSuffix("/") == preN || root.startsWith(preN + "/")
      if (hit && best.forall(_._1.length < pre.length)) best = Some((pre, st))
    }
    best.map(_._2)
  }

  final class ConcurrentPublishException(msg: String)
    extends RuntimeException(msg)

  private def hadoopConf: Configuration =
    // getActiveSession is thread-local: calls from non-Spark-created
    // threads (reader threads, schedulers) must still see the session's
    // Hadoop settings, so fall back to the JVM-global default session
    // before surrendering to a bare Configuration
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsFor(root: String): FileSystem =
    new HPath(root).getFileSystem(hadoopConf)

  private def isLocal(fs: FileSystem): Boolean = fs.getScheme == "file"

  private def nio(fs: FileSystem, p: HPath): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri)

  def currentVersion(root: String): Option[String] =
    storeFor(root) match {
      case Some(st) => st.get(s"$root/$Pointer").map(_._1.trim)
      case None =>
        val fs = fsFor(root)
        val p = new HPath(root, Pointer)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(), UTF_8).trim)
          finally in.close()
        }
    }

  def currentDataDir(root: String): Option[String] =
    currentVersion(root).map(v => s"$root/$v")

  /** Resolve the pointer once, read that version (cross-session reader
    * path; in-session readers use the published view instead). */
  def read(spark: SparkSession, root: String): DataFrame =
    FooterSchema.read(spark, currentDataDir(root).getOrElse(
      sys.error(s"ManifestTable: no MANIFEST under $root")))

  /** Publish `df` as the next version: writer lock → full write →
    * atomic pointer swap → pointer-derived keep-2 GC → unlock. Returns
    * the new version's data directory. */
  def publish(spark: SparkSession, root: String, df: DataFrame,
      protect: Set[String] = Set.empty): String = {
    val fs = fsFor(root)
    fs.mkdirs(new HPath(root))
    val unlock = acquireLock(fs, root)
    try {
      val prev = currentVersion(root)
      val gen = prev.map(_.drop(1).takeWhile(_.isDigit).toInt).getOrElse(0) + 1
      val ver = f"v$gen%06d-${java.util.UUID.randomUUID.toString.take(8)}"
      val dataDir = s"$root/$ver"
      df.write.mode("error").parquet(dataDir)
      swapPointer(fs, root, ver)
      gc(fs, root, prev.toSet ++ protect)
      dataDir
    } finally unlock()
  }

  /** Adopt an ALREADY-WRITTEN directory as the next version: one
    * directory rename (metadata-only — no data copy) + the same atomic
    * pointer swap and GC as [[publish]]. The commit path of both table
    * layouts: a single partitioned write job produces every key's
    * files, and each key directory is adopted into its own manifest
    * root without rewriting a byte. */
  private[engine] def adoptVersion(root: String, srcDir: String,
      protect: Set[String] = Set.empty): String = {
    val fs = fsFor(root)
    fs.mkdirs(new HPath(root))
    val unlock = acquireLock(fs, root)
    try {
      val prev = currentVersion(root)
      val gen = prev.map(_.drop(1).takeWhile(_.isDigit).toInt).getOrElse(0) + 1
      val ver = f"v$gen%06d-${java.util.UUID.randomUUID.toString.take(8)}"
      require(fs.rename(new HPath(srcDir), new HPath(s"$root/$ver")),
        s"ManifestTable: could not adopt $srcDir into $root")
      // completion marker BEFORE the swap: Spark writes _SUCCESS only at
      // the scratch JOB root, so an adopted per-partition directory has
      // none — without it, gc's stolen-lock second line of defense (keep
      // only a _SUCCESS-completed predecessor) is inert on exactly the
      // PartitionedManifest path it was motivated by. Readers ignore
      // underscore-prefixed files, so the marker never changes results.
      val succ = new HPath(s"$root/$ver/_SUCCESS")
      if (!fs.exists(succ)) fs.create(succ, true).close()
      swapPointer(fs, root, ver)
      gc(fs, root, prev.toSet ++ protect)
      s"$root/$ver"
    } finally unlock()
  }

  /** Swap a root-level pointer to an arbitrary name through the same
    * atomic-rename machinery as [[publish]] ([[SnapshotLog]]'s
    * snapshot commits ride this), then journal the movement in the
    * root's history log — every snapshot that BECAME current is one
    * line of `_history.tsv` (`epoch_ms<TAB>snapshot<TAB>action`), the
    * raw material of the `history` inspection table (Iceberg's
    * made-current log). Callers hold the root publish lock, so the
    * read-modify-write append is race-free; the log keeps the newest
    * [[HistoryKeep]] lines (metadata-only, bounded). */
  private[engine] def swapRootPointer(root: String, name: String,
      action: String = "commit"): Unit = {
    swapPointer(fsFor(root), root, name)
    appendHistory(root, name, action)
  }

  private val HistoryFile = "_history.tsv"
  private val HistoryKeep = 1000

  private def appendHistory(root: String, snap: String,
      action: String): Unit = {
    val prior = historyLines(root)
    val line = s"${System.currentTimeMillis()}\t$snap\t$action"
    swapRefPointer(root, HistoryFile,
      (prior :+ line).takeRight(HistoryKeep).mkString("\n") + "\n")
  }

  /** The root's made-current journal, oldest first:
    * (epoch ms, snapshot, action). Empty when no log exists (tables
    * created before history landed journal from their next commit). */
  private[engine] def historyLines(root: String): Seq[String] =
    storeFor(root) match {
      case Some(st) => st.get(s"$root/$HistoryFile")
        .map(_._1.linesIterator.filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      case None =>
        val fs = fsFor(root)
        val p = new HPath(root, HistoryFile)
        if (!fs.exists(p)) Seq.empty
        else {
          val in = fs.open(p)
          val text = try new String(in.readAllBytes(), UTF_8)
          finally in.close()
          text.linesIterator.filter(_.nonEmpty).toSeq
        }
    }

  /** Adopt `srcDir` as the next version directory of `root` WITHOUT
    * advancing the partition pointer and WITHOUT running GC — branch
    * commits stage their versions invisibly to live readers
    * ([[SnapshotLog]]'s branch commits). The branch's
    * snapshot file, written moments later under the same root publish
    * lock, is what protects a staged dir from commit-time GC: every
    * protection set derives from the snapshot files present, and
    * branch heads are in every keep set. */
  private[engine] def stageVersion(root: String, srcDir: String): String = {
    val fs = fsFor(root)
    fs.mkdirs(new HPath(root))
    val unlock = acquireLock(fs, root)
    try {
      val prev = currentVersion(root)
      val gen = prev.map(_.drop(1).takeWhile(_.isDigit).toInt).getOrElse(0) + 1
      val ver = f"v$gen%06d-${java.util.UUID.randomUUID.toString.take(8)}"
      require(fs.rename(new HPath(srcDir), new HPath(s"$root/$ver")),
        s"ManifestTable: could not stage $srcDir into $root")
      val succ = new HPath(s"$root/$ver/_SUCCESS")
      if (!fs.exists(succ)) fs.create(succ, true).close()
      s"$root/$ver"
    } finally unlock()
  }

  /** Atomically (over)write a small MUTABLE ref file at a relative path
    * (branch pointers) — the MANIFEST swap machinery generalized: CAS
    * loop on a store-backed root, tmp + atomic rename elsewhere. */
  private[graft] def swapRefPointer(root: String, relPath: String,
      content: String): Unit =
    storeFor(root) match {
      case Some(st) =>
        val path = s"$root/$relPath"
        var done = false
        var spins = 0
        while (!done) {
          done = st.get(path) match {
            case None => st.putIfAbsent(path, content)
            case Some((_, tag)) => st.putIfMatch(path, content, tag)
          }
          spins += 1
          require(spins < 1000, s"ref CAS livelock on $path")
        }
      case None =>
        val fs = fsFor(root)
        val dst = new HPath(root, relPath)
        fs.mkdirs(dst.getParent)
        val tmp = new HPath(dst.getParent, s".${dst.getName}.tmp." +
          java.util.UUID.randomUUID.toString.take(8))
        if (isLocal(fs)) {
          java.nio.file.Files.writeString(nio(fs, tmp), content)
          java.nio.file.Files.move(nio(fs, tmp), nio(fs, dst),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } else {
          val out = fs.create(tmp, true)
          try out.write(content.getBytes(UTF_8)) finally out.close()
          FileContext.getFileContext(fs.getUri, hadoopConf).rename(
            fs.makeQualified(tmp), fs.makeQualified(dst),
            Options.Rename.OVERWRITE)
        }
    }

  /** Repoint the MANIFEST at an EXISTING version directory — rollback's
    * metadata-only primitive: no data is read, written, moved, or GC'd
    * (the caller — [[SnapshotLog]]'s rollback — owns horizon
    * bookkeeping via its snapshot protection; running [[gc]] here could
    * collect the version being abandoned while the snapshot that names
    * it is still kept). The target directory must exist; fails loudly
    * otherwise. */
  private[engine] def repointVersion(root: String, ver: String): Unit = {
    val fs = fsFor(root)
    val unlock = acquireLock(fs, root)
    try {
      require(fs.exists(new HPath(s"$root/$ver")),
        s"ManifestTable: rollback target $root/$ver does not exist " +
          "(past the keep-N horizon?)")
      swapPointer(fs, root, ver)
    } finally unlock()
  }

  /** Atomic create-new of the lock file; breaks locks older than
    * [[LockStaleMs]] (a crashed publisher), fails loudly on a live one. */
  /** Run `f` holding the root's publish lock — [[SnapshotLog]]'s
    * snapshot commits serialize through this so two committers cannot
    * both read base mapping N and race to write N+1 (lost update). */
  private[graft] def withPublishLock[A](root: String)(f: => A): A = {
    val fs = fsFor(root)
    fs.mkdirs(new HPath(root))
    val unlock = acquireLock(fs, root)
    try f finally unlock()
  }

  private def acquireLock(fs: FileSystem, root: String): () => Unit =
    storeFor(root) match {
      case Some(st) => acquireLockViaStore(st, root)
      case None => acquireLockViaFs(fs, root)
    }

  // heartbeat scheduler for held locks: a publish legitimately running
  // past LockStaleMs (a 100 TB multi-partition write job) must refresh
  // its lock or a waiter will steal it mid-flight and race the pointer
  private lazy val lockHeartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "manifest-lock-heartbeat")
      t.setDaemon(true); t
    })
  private val HeartbeatMs = LockStaleMs / 4

  /** Conditional-PUT lock: create-if-absent wins; a stale lock is taken
    * over with ONE If-Match replace — no delete window at all (the
    * loser's putIfMatch fails because the winner's write changed the
    * tag), strictly stronger than the rename-aside dance below. While
    * held, a heartbeat re-stamps the lock every LockStaleMs/4 so a
    * long-running publish is never "stale"; release is a CONDITIONAL
    * If-Match delete — an owner that lost its lock to a (justified or
    * not) takeover cannot delete the new owner's lock on exit. */
  private def acquireLockViaStore(st: PointerStore,
      root: String): () => Unit = {
    val path = s"$root/$Lock"
    val uuid = java.util.UUID.randomUUID.toString
    def stamp() = s"${System.currentTimeMillis()} $uuid"
    val owner = stamp()
    def armed(): () => Unit = {
      val tag = new java.util.concurrent.atomic.AtomicReference[String](
        st.get(path).map(_._2).orNull)
      val beat = lockHeartbeats.scheduleAtFixedRate(() => {
        val t = tag.get()
        if (t != null && st.putIfMatch(path, stamp(), t))
          st.get(path).map(_._2).foreach(tag.set)
      }, HeartbeatMs, HeartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      () => {
        beat.cancel(false)
        // cancel(false) does not wait for a RUNNING beat: one in-flight
        // heartbeat may still re-stamp after this point, invalidating
        // whatever tag we read. Verify ownership by uuid and retry the
        // conditional delete until it lands (or the lock provably
        // belongs to someone else) — a swallowed failed delete here
        // would orphan a freshly-stamped lock for a full stale horizon.
        // interrupt-safe: this closure runs in a finally — a sleep that
        // threw InterruptedException there would MASK the publish's
        // real failure and abandon the lock; swallow, re-flag, stop
        var done = false
        var attempts = 0
        while (!done && attempts < 50) {
          st.get(path) match {
            case Some((content, t)) if content.endsWith(uuid) =>
              done = st.deleteIfMatch(path, t)
              if (!done)
                try Thread.sleep(10)
                catch { case _: InterruptedException =>
                  Thread.currentThread().interrupt(); done = true }
            case _ => done = true // gone, or taken over: nothing to delete
          }
          attempts += 1
        }
      }
    }
    if (st.putIfAbsent(path, owner)) return armed()
    val takeover = st.get(path) match {
      case Some((content, tag)) =>
        val ts = content.trim.takeWhile(_.isDigit)
        val age = System.currentTimeMillis() -
          (if (ts.nonEmpty) ts.toLong else 0L)
        age > LockStaleMs && st.putIfMatch(path, owner, tag)
      case None => st.putIfAbsent(path, owner)
    }
    if (takeover) armed()
    else throw new ConcurrentPublishException(
      s"ManifestTable: another publisher holds $root/$Lock — publishers " +
        "are single-writer per root; retry after it completes (locks " +
        s"idle > ${LockStaleMs / 60000} min are presumed crashed and " +
        "taken over)")
  }

  private def acquireLockViaFs(fs: FileSystem, root: String): () => Unit = {
    val lock = new HPath(root, Lock)
    // ownership content: release must not delete a lock that is no
    // longer ours (a publisher whose lock was stolen by stale takeover
    // — e.g. under a silently-failing setTimes heartbeat — would
    // otherwise delete the NEW owner's lock on exit and admit a third
    // concurrent publisher). POSIX has no compare-and-delete, so the
    // read-check-delete still has a microsecond window (the store-
    // backed path closes it fully with If-Match); this narrows the FS
    // hole from always-open to takeover-lands-inside-the-release.
    val uuid = java.util.UUID.randomUUID.toString
    def tryCreate(): Boolean =
      try {
        if (isLocal(fs)) {
          // NIO CREATE_NEW is atomic on POSIX; Hadoop's local
          // create(overwrite=false) is check-then-create
          java.nio.file.Files.createFile(nio(fs, lock))
          java.nio.file.Files.writeString(nio(fs, lock), uuid)
        } else {
          val out = fs.create(lock, false)
          out.write(uuid.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close()
        }
        true
      } catch { case _: java.io.IOException => false }
    def ownsLock(): Boolean =
      try {
        val in = fs.open(lock)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) == uuid
        finally in.close()
      } catch { case _: java.io.IOException => false }
    def acquired(): () => Unit = {
      // heartbeat: refresh the lock mtime so a publish running past
      // LockStaleMs is not mistaken for a crash and stolen mid-flight
      val beat = lockHeartbeats.scheduleAtFixedRate(() => {
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
      }, HeartbeatMs, HeartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      () => {
        beat.cancel(false)
        if (ownsLock()) fs.delete(lock, false)
        ()
      }
    }
    if (tryCreate()) return acquired()
    val age =
      try System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
    if (age > LockStaleMs && age != Long.MaxValue) {
      // break the stale lock by renaming it ASIDE first: an unconditional
      // delete is TOCTOU-racy (two waiters could both measure staleness,
      // and the slower delete would remove the faster waiter's freshly
      // created lock). rename is atomic and fails for the loser, so at
      // most one waiter retires any given stale lock file.
      val aside = new HPath(root,
        s"$Lock.stale.${java.util.UUID.randomUUID.toString.take(8)}")
      val broke = try fs.rename(lock, aside)
        catch { case _: java.io.IOException => false }
      if (broke) fs.delete(aside, false)
    }
    if (tryCreate()) acquired()
    else throw new ConcurrentPublishException(
      s"ManifestTable: another publisher holds $root/$Lock — publishers " +
        "are single-writer per root; retry after it completes (locks " +
        s"idle > ${LockStaleMs / 60000} min are presumed crashed and broken)")
  }

  private def swapPointer(fs: FileSystem, root: String, ver: String): Unit =
    storeFor(root) match {
      case Some(st) =>
        // CAS loop on the pointer object: create-if-absent for the first
        // publish, If-Match replace after. Under the publish lock there
        // is one writer, so the loop converges on the first try; the
        // loop still guards against a takeover racing a crashed owner.
        val path = s"$root/$Pointer"
        var done = false
        var spins = 0
        while (!done) {
          done = st.get(path) match {
            case None => st.putIfAbsent(path, ver + "\n")
            case Some((_, tag)) => st.putIfMatch(path, ver + "\n", tag)
          }
          spins += 1
          require(spins < 1000, s"pointer CAS livelock on $path")
        }
      case None => swapPointerViaRename(fs, root, ver)
    }

  /** Create-once of an immutable uniquely-named file (snapshot files):
    * one conditional PUT on a store-backed root (a plain object PUT is
    * atomic per object; If-None-Match guards against name reuse),
    * write-to-temp + rename elsewhere. */
  private[graft] def writeOnce(root: String, relPath: String,
      content: String): Unit =
    storeFor(root) match {
      case Some(st) =>
        require(st.putIfAbsent(s"$root/$relPath", content),
          s"ManifestTable: $root/$relPath already exists")
      case None =>
        val fs = fsFor(root)
        val dst = new HPath(root, relPath)
        val tmp = new HPath(dst.getParent,
          s".${dst.getName}.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
        val out = fs.create(tmp, true)
        try out.write(content.getBytes(UTF_8)) finally out.close()
        require(fs.rename(tmp, dst),
          s"ManifestTable: cannot write $root/$relPath")
    }

  private def swapPointerViaRename(fs: FileSystem, root: String,
      ver: String): Unit = {
    val dst = new HPath(root, Pointer)
    val tmp = new HPath(root, s".$Pointer.tmp.$ver")
    if (isLocal(fs)) {
      java.nio.file.Files.writeString(nio(fs, tmp), ver + "\n")
      java.nio.file.Files.move(nio(fs, tmp), nio(fs, dst),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(tmp, true)
      try out.write((ver + "\n").getBytes(UTF_8)) finally out.close()
      FileContext.getFileContext(fs.getUri, hadoopConf).rename(
        fs.makeQualified(tmp), fs.makeQualified(dst),
        Options.Rename.OVERWRITE)
    }
  }

  /** Keep the version the LIVE pointer names (re-read after the swap —
    * a concurrent publisher may have won a later swap) plus the
    * POINTER-DERIVED previous version and any explicitly protected
    * versions (snapshot-referenced dirs); delete the rest recursively
    * through the Hadoop FS (no directory-handle leaks).
    *
    * The previous version comes from the pointer value read under the
    * lock BEFORE the swap, never from lexicographic guessing: a
    * failed/aborted publish can leave an orphan dir of the same
    * generation (e.g. v000002-aaaa next to the live v000002-bbbb), and
    * keeping the lexicographically-highest predecessor would preserve
    * the partial orphan while deleting the genuine previous version —
    * breaking the documented keep-2 reader horizon. */
  private def gc(fs: FileSystem, root: String,
      protect: Set[String]): Unit = {
    val current = currentVersion(root).getOrElse(return)
    val versions = fs.listStatus(new HPath(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .map(_.getPath.getName).sorted // v%06d zero-padding = generation order
    // second line of defense for publishers that slipped past the lock
    // (stale takeover under a silently-broken heartbeat): ALSO protect
    // the live pointer's generation predecessor — the loser's gc would
    // otherwise delete the winner's previous version and break the
    // keep-2 reader horizon. Only a COMPLETED predecessor (_SUCCESS)
    // qualifies: a crashed write's partial orphan has none and must
    // still be collected, not mistaken for the previous version (the
    // caller's own pre-swap pointer rides in `protect`).
    val predecessor = versions.filter(_ < current).reverse
      .find(v => fs.exists(new HPath(s"$root/$v/_SUCCESS")))
    val keep = Set(current) ++ protect ++ predecessor
    versions.filterNot(keep).foreach(v => fs.delete(new HPath(root, v), true))
  }

  /** Register the python-step callback that publishes `srcTable`'s rows
    * under `finalName` through the manifest at placeholder `rootKey`:
    * version write → atomic pointer swap → session view re-point (ONE
    * catalog op — in-session readers of `finalName` see old or new,
    * never missing; steady-state republish is a single view replace) →
    * staging-table drop. Replaces the packet's non-atomic
    * `DROP TABLE x; ALTER TABLE x_new RENAME TO x` dance. Idempotent
    * registration (the ScalaSteps map overwrites). */
  /** Standing registrations for the shipped packet corpus' publish
    * steps (idempotent — call before running these packets). */
  def ensurePacketPublishSteps(): Unit = {
    registerPublishStep("test_delete", "02_step.py",
      "del_tbl_rw", "del_tbl", "del_pub")
    registerPublishStep("test_add_column", "03_step.py",
      "evo_tbl_new", "evo_tbl", "evo_pub")
  }

  def registerPublishStep(packet: String, stepFile: String,
      srcTable: String, finalName: String, rootKey: String): Unit =
    ScalaSteps.register(packet, stepFile) { ctx =>
      val spark = ctx.spark
      val root = ctx.placeholders.getOrElse(rootKey,
        sys.error(s"$packet/$stepFile: missing placeholder $rootKey " +
          "(manifest root)"))
      val dataDir = publish(spark, root, spark.table(srcTable))
      // one-time bootstrap: the seeded catalog TABLE under finalName must
      // yield to the view (two ops, in-session only); every later publish
      // is the single CREATE OR REPLACE — the atomic steady state
      spark.sql(s"DROP TABLE IF EXISTS `$finalName`")
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$finalName` AS " +
        s"SELECT * FROM parquet.`$dataDir`")
      spark.sql(s"DROP TABLE IF EXISTS `$srcTable`")
      ctx.notice("info", s"published $finalName -> $dataDir (manifest swap)")
    }
}
