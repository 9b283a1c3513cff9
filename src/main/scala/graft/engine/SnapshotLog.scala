package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** The ROOT-level commit protocol of both table layouts — everything
  * that sits under a table root's `MANIFEST` pointer:
  *
  * {{{
  *   root/MANIFEST                -> names the current snapshot file
  *   root/_snapshots/s000007-xxxx    #committed_ms=… #operation=…
  *                                   [#parent=…] [#schema=…] headers,
  *                                   then `key<TAB>versionDir` lines
  *   root/_refs/<tag>                `snap\n` (immutable, create-once)
  *   root/_branches/<branch>         `head<TAB>forkBase\n` (mutable)
  *   root/_refs_stream/<sink>        a streaming sink's last batch id
  * }}}
  *
  * A snapshot file names, for every KEY of the table, the version dir
  * that key's own [[ManifestTable]] pointer serves. A commit writes the
  * touched keys' new version dirs, then swaps the ONE root pointer to a
  * new snapshot file: a multi-key delta becomes visible in a single
  * atomic rename, and older snapshots stay readable (time travel) — the
  * log design of Delta Lake (Armbrust et al., VLDB 2020) and the
  * Iceberg table spec. A snapshot file survives while it is PINNED
  * (among the newest keep-N, tagged, a branch head, or current), and
  * every per-key version GC protects the dirs pinned snapshots name.
  *
  * The layouts differ only in where key `k` lives: `root/<partCol>=k`
  * for [[PartitionedManifest]] (keys are partition values), `root/k`
  * for [[SpecManifest]] (keys are leaf paths `y=…/b=…`). Operations
  * that touch key directories take that as `leafRoot` (key → directory
  * relative to the root); `liveKeys` lists the keys present on disk.
  * The table engine built on this log is [[MergeOnRead]]'s.
  */
trait SnapshotLog {
  import SnapshotLog._

  /** Engine name prefixed to error messages. */
  protected def logName: String
  /** What the engine's keys are called in error messages. */
  protected def keysNoun: String

  type SnapshotMeta = SnapshotLog.SnapshotMeta
  type HistoryMeta = SnapshotLog.HistoryMeta
  type FileMeta = SnapshotLog.FileMeta

  /** Close a key's protection set under what its version dirs read
    * through (merge-on-read base chains, [[MergeOnRead]]): protecting a
    * dir must protect everything below it. */
  protected def expandMorProtect(spark: SparkSession, partRoot: String,
      dirs: Set[String]): Set[String]

  protected def fsOf(spark: SparkSession, root: String): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partition values ride in directory names, generated SQL partition
    * specs and the tab-delimited snapshot lines, so they must be plain
    * printable tokens: a quote, slash or newline must never smuggle
    * structure into an ALTER TABLE statement or a snapshot file. */
  protected def checkPartValue(v: String): String = {
    require(v.nonEmpty && v.length <= 255 && v.forall(c =>
      c > ' ' && c <= '~' && c != '\'' && c != '"' && c != '\\' &&
        c != '/' && c != '`'),
      s"$logName: unsupported partition value '$v' - values must be " +
        "non-empty printable ASCII without quotes, backticks, slashes, " +
        "or whitespace (they appear in directory names, SQL partition " +
        "specs, and snapshot lines)")
    v
  }

  /** THE LEAF-KEY RULE: a partition value is spelled in directory names
    * and snapshot keys the way a `partitionBy` write spells it, Spark's
    * path escaping (`a:b` → `a%3Ab`); values passed into the API and
    * served out are the unescaped ones. */
  protected def escapeValue(v: String): String =
    ExternalCatalogUtils.escapePathName(checkPartValue(v))

  protected def unescapeValue(s: String): String =
    ExternalCatalogUtils.unescapePathName(s)

  /** A leaf path's hive fields as (name, unescaped value). */
  protected def leafFields(leaf: String): Seq[(String, String)] =
    leaf.split("/").toSeq.map { seg =>
      val Array(n, v) = seg.split("=", 2)
      n -> checkPartValue(unescapeValue(v))
    }

  private def snapshotText(spark: SparkSession, root: String,
      snap: String): String =
    readUtf8(fsOf(spark, root), new HPath(s"$root/$SnapDir/$snap"))

  /** `snapshot`, else the current one; fails loudly when none is
    * committed. */
  protected def snapOf(spark: SparkSession, root: String,
      snapshot: Option[String]): String =
    snapshot.orElse(currentSnapshot(spark, root)).getOrElse(
      sys.error(s"$logName: no snapshot committed under $root"))

  /** The current snapshot name (root MANIFEST content), if committed. */
  def currentSnapshot(spark: SparkSession, root: String): Option[String] = {
    val fs = fsOf(spark, root)
    val p = new HPath(root, "MANIFEST")
    if (!fs.exists(p)) None else Some(readUtf8(fs, p).trim)
  }

  /** All kept snapshots, oldest first (generation-ordered names). */
  def snapshots(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val dir = new HPath(root, SnapDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("s")).sorted.toSeq
  }

  /** A snapshot's content: key → version dir name (headers skipped). */
  def snapshotMapping(spark: SparkSession, root: String,
      snap: String): Seq[(String, String)] =
    snapshotText(spark, root, snap).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, d) = l.split("\t", 2); (k, d) }.toSeq

  /** A snapshot's commit wall-clock (epoch ms) from its header; a
    * pre-header file falls back to its mtime, so as-of resolution and
    * expiry still see it on a mixed-layout table. */
  def snapshotCommittedMs(spark: SparkSession, root: String,
      snap: String): Option[Long] =
    header(snapshotText(spark, root, snap), "committed_ms").map(_.toLong)
      .orElse(try Some(fsOf(spark, root).getFileStatus(
          new HPath(s"$root/$SnapDir/$snap")).getModificationTime)
        catch { case _: java.io.IOException => None })

  /** The data schema RECORDED at a snapshot commit (single-column layout
    * only; None = a spec table or an older layout, readers use a version
    * dir footer). */
  def snapshotSchema(spark: SparkSession, root: String,
      snap: String): Option[StructType] =
    header(snapshotText(spark, root, snap), "schema")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** AS-OF time travel: the LATEST kept snapshot committed at or before
    * `tsMs`; None if every kept snapshot is newer (never younger data). */
  def snapshotAsOf(spark: SparkSession, root: String,
      tsMs: Long): Option[String] =
    snapshots(spark, root).reverse.find(sn =>
      snapshotCommittedMs(spark, root, sn).exists(_ <= tsMs))

  /** The schema a commit records: `prev` evolved ADDITIVELY by the
    * update's (the Iceberg add-column contract) — existing columns arrive
    * unchanged, new ones append. A removal is an explicit metadata-only
    * `dropColumn`; a type change needs a rewrite. */
  protected def evolvedSchema(prev: Option[StructType],
      upd: Option[StructType]): Option[StructType] = (prev, upd) match {
    case (Some(p), Some(u)) =>
      p.fields.foreach { f =>
        u.fields.find(_.name == f.name) match {
          case None => sys.error(
            s"commitSnapshot: update omits column '${f.name}' - evolution " +
              "is additive; use dropColumn() for an explicit metadata-only " +
              "drop")
          case Some(x) if x.dataType != f.dataType => sys.error(
            s"commitSnapshot: column '${f.name}' changes type " +
              s"${f.dataType.simpleString} -> ${x.dataType.simpleString}; " +
              "type changes need a rewrite, not schema evolution")
          case _ =>
        }
      }
      Some(StructType(p.fields ++
        u.fields.filterNot(x => p.fieldNames.contains(x.name))))
    case _ => prev.orElse(upd)
  }

  // ---------------------------------------------------------------------
  // COMMIT: writer, keep-N trim, GC protection. Callers of the *Locked
  // methods hold the root publish lock.

  /** Snapshots no trim may drop: the newest `keepLast`, tags, branch
    * heads, and current (branch commits interleave in the shared
    * generation order, so the newest N alone could pass the root's). */
  private def pinned(spark: SparkSession, root: String, all: Seq[String],
      keepLast: Int): Set[String] =
    all.takeRight(keepLast).toSet ++ tags(spark, root).values ++
      branches(spark, root).values.map(_._1) ++ currentSnapshot(spark, root)

  /** Version dirs the pinned snapshots reference, per key — what every
    * per-key version GC keeps (expanded through merge-on-read chains).
    * All CURRENTLY pinned snapshots count: adoption GC runs before the
    * new snapshot exists, so dropping the expiring one's dirs would break
    * its reads if the commit aborted; they collect on the key's next
    * touch instead. */
  protected def protectedDirsByKey(spark: SparkSession, root: String,
      keepSnapshots: Int): Map[String, Set[String]] = {
    val all = snapshots(spark, root)
    all.filter(pinned(spark, root, all, keepSnapshots))
      .flatMap(sn => snapshotMapping(spark, root, sn))
      .groupBy(_._1).map { case (k, ds) => k -> ds.map(_._2).toSet }
  }

  /** Write a snapshot file carrying `mapping` (and `schema`), swap the
    * root pointer to it (a BRANCH commit, `advanceRoot = false`, moves
    * its branch pointer instead), then trim unpinned snapshot files past
    * keep-N. `operation` and the parent feed the inspection tables.
    * Returns the new snapshot name. */
  protected def writeSnapshotLocked(spark: SparkSession, root: String,
      mapping: Seq[(String, String)], keepSnapshots: Int,
      schema: Option[StructType] = None, advanceRoot: Boolean = true,
      operation: String = "commit"): String = {
    val fs = fsOf(spark, root)
    fs.mkdirs(new HPath(root, SnapDir))
    val gen = snapshots(spark, root).lastOption
      .map(_.drop(1).takeWhile(_.isDigit).toInt).getOrElse(0) + 1
    val snap = f"s$gen%06d-${uuid8()}"
    val body = s"#committed_ms=${System.currentTimeMillis()}\n" +
      s"#operation=$operation\n" +
      currentSnapshot(spark, root).map(p => s"#parent=$p\n").getOrElse("") +
      schema.map(s => s"#schema=${s.json}\n").getOrElse("") +
      mapping.map { case (k, d) => s"$k\t$d" }.mkString("\n") + "\n"
    // immutable file: conditional PUT on a store, tmp+rename elsewhere
    ManifestTable.writeOnce(root, s"$SnapDir/$snap", body)
    if (advanceRoot) ManifestTable.swapRootPointer(root, snap, operation)
    val all = snapshots(spark, root)
    val keep = pinned(spark, root, all, keepSnapshots) + snap
    all.filterNot(keep).foreach(s =>
      fs.delete(new HPath(root, s"$SnapDir/$s"), false))
    snap
  }

  /** Key-tagged frames as ONE frame: each key's rows (the first key's
    * data columns; partition columns dropped) with its values attached
    * as literal string `fields` columns — what [[writeTagged]] routes. */
  protected def unionTagged(fields: Seq[String],
      updates: Map[Seq[String], DataFrame]): Option[DataFrame] =
    updates.toSeq.sortBy(_._1.mkString("/")).headOption.map { h =>
      val dataCols = h._2.columns.toSeq.filterNot(fields.contains)
      updates.map { case (vs, df) =>
        fields.zip(vs).foldLeft(df.select(dataCols.map(col): _*)) {
          case (x, (f, v)) => x.withColumn(f, lit(v))
        }
      }.reduce(_.unionByName(_))
    }

  /** The ONE hive-partitioned write of a tagged frame (data columns +
    * `fields`) into `scratch/<f1>=<v1>/…/` — REBALANCED, not
    * repartitioned: one task per key would push a skewed key's whole
    * delta through a single writer. */
  protected def writeTagged(df: DataFrame, fields: Seq[String],
      scratch: String): Unit = {
    val dataCols = df.columns.toSeq.filterNot(fields.contains)
    df.select((dataCols ++ fields).map(col): _*)
      .hint("rebalance", fields.map(col): _*)
      .write.mode("error").partitionBy(fields: _*).parquet(scratch)
  }

  /** The mapping a commit starts from: the current snapshot's, or on a
    * root with no snapshot yet the standing key pointers (generation 0). */
  protected def baseMappingLocked(spark: SparkSession, root: String,
      leafRoot: String => String,
      liveKeys: () => Seq[String]): Map[String, String] =
    currentSnapshot(spark, root) match {
      case Some(s) => snapshotMapping(spark, root, s).toMap
      case None => liveKeys().map { k =>
        val pr = s"$root/${leafRoot(k)}"
        k -> new HPath(ManifestTable.currentDataDir(pr)
          .getOrElse(sys.error(s"no MANIFEST under $pr"))).getName
      }.toMap
    }

  /** Adopt each touched key's next version ([[versionSource]]) with its
    * version GC keeping the pinned snapshots' dirs. Returns key →
    * version dir name, for the caller to commit. */
  protected def adoptLeavesLocked(spark: SparkSession, root: String,
      scratch: Option[String], keys: Seq[String], keepSnapshots: Int,
      leafRoot: String => String,
      emptyLeaf: String => DataFrame): Map[String, String] = {
    val protectByKey = protectedDirsByKey(spark, root, keepSnapshots)
    // per-key adoption is independent fs work — overlap it
    Par.map(keys) { k =>
      val pr = s"$root/${leafRoot(k)}"
      val dir = ManifestTable.adoptVersion(pr,
        versionSource(spark, root, scratch, k, leafRoot, emptyLeaf),
        expandMorProtect(spark, pr, protectByKey.getOrElse(k, Set.empty)))
      k -> new HPath(dir).getName
    }.toMap
  }

  /** Key `k`'s pre-written `scratch/<leafRoot(k)>` subdir, or — for an
    * all-empty update, which writes none — `emptyLeaf(k)` written to a
    * fresh staging dir under the key. */
  private def versionSource(spark: SparkSession, root: String,
      scratch: Option[String], k: String, leafRoot: String => String,
      emptyLeaf: String => DataFrame): String =
    scratch.map(s => s"$s/${leafRoot(k)}")
      .filter(p => fsOf(spark, root).exists(new HPath(p))).getOrElse {
        val tmp = s"$root/${leafRoot(k)}/.stage-${uuid8()}"
        emptyLeaf(k).write.parquet(tmp)
        tmp
      }

  /** Repoint every key whose live pointer differs from `mapping` — the
    * metadata-only core of rollback and fast-forward (mapped dirs are
    * GC-protected, so each must still exist). */
  private def repointAll(spark: SparkSession, root: String,
      mapping: Seq[(String, String)], leafRoot: String => String,
      what: String): Unit = {
    val fs = fsOf(spark, root)
    mapping.sortBy(_._1).foreach { case (k, d) =>
      val pr = s"$root/${leafRoot(k)}"
      if (!ManifestTable.currentVersion(pr).contains(d)) {
        require(fs.exists(new HPath(s"$pr/$d")),
          s"$logName: $what dir $pr/$d is gone")
        ManifestTable.repointVersion(pr, d)
      }
    }
  }

  // ---------------------------------------------------------------------
  // TAGS (immutable, under _refs/) pin a snapshot until dropped.

  /** Ref names (tags, branches, stream sink ids) are file names: letters,
    * digits, dot, underscore and dash, no leading dot — no name can
    * leave its directory (`../MANIFEST` would name the root pointer) or
    * hide from the listings. */
  private[graft] def checkRefName(name: String): String = {
    require(name.nonEmpty && name.length <= 128 && !name.startsWith(".") &&
      name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
        c == '-'),
      s"$logName: unsupported ref name '$name' - letters, digits, dot, " +
        "underscore, dash only (ref names are file names)")
    name
  }

  /** name → trimmed content of every ref file under `dir`. */
  private def refFiles(spark: SparkSession, root: String,
      dir: String): Map[String, String] = {
    val fs = fsOf(spark, root)
    val d = new HPath(root, dir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).filter(s => s.isFile &&
        !s.getPath.getName.startsWith(".")).map { s =>
      s.getPath.getName -> readUtf8(fs, s.getPath).trim
    }.toMap
  }

  /** Tag a kept snapshot (default: current) with an immutable name;
    * fails loudly if the name exists or the snapshot is unknown. */
  def tagSnapshot(spark: SparkSession, root: String, name: String,
      snapshot: Option[String] = None): String = {
    checkRefName(name)
    // locked: a concurrent trim must not expire the snapshot mid-way
    ManifestTable.withPublishLock(root) {
      val snap = snapOf(spark, root, snapshot)
      require(snapshots(spark, root).contains(snap),
        s"$logName: cannot tag unknown/expired snapshot $snap")
      // create-once: two racing taggers of one name cannot both win
      ManifestTable.writeOnce(root, s"$RefsDir/$name", snap + "\n")
      snap
    }
  }

  /** All tags: name → snapshot id. */
  def tags(spark: SparkSession, root: String): Map[String, String] =
    refFiles(spark, root, RefsDir)

  /** Drop a tag; its snapshot re-enters keep-N at the next commit. */
  def dropTag(spark: SparkSession, root: String, name: String): Unit =
    fsOf(spark, root).delete(
      new HPath(root, s"$RefsDir/${checkRefName(name)}"), false)

  /** Resolve a ref: a tag name, a branch name (its head), a literal
    * snapshot id, or None for the current snapshot. */
  def resolveRef(spark: SparkSession, root: String,
      ref: Option[String]): Option[String] = ref match {
    case None => currentSnapshot(spark, root)
    case Some(r) => tags(spark, root).get(r)
      .orElse(branches(spark, root).get(r).map(_._1))
      .orElse(Some(r))
  }

  /** The last micro-batch id streaming sink `sinkId` committed to the
    * table (-1 if none) — its `_refs_stream/<sinkId>` ref, the sinks'
    * exactly-once replay guard. */
  def lastStreamBatch(spark: SparkSession, root: String,
      sinkId: String): Long = {
    val fs = fsOf(spark, root)
    val p = new HPath(root, s"$StreamRefsDir/${checkRefName(sinkId)}")
    if (!fs.exists(p)) -1L else readUtf8(fs, p).trim.toLong
  }

  /** Advance sink `sinkId`'s batch ref — AFTER its commit: a crash in
    * between replays the (idempotent, key-merged) commit, a crash after
    * skips cleanly. */
  def recordStreamBatch(root: String, sinkId: String, batchId: Long): Unit =
    ManifestTable.swapRefPointer(root,
      s"$StreamRefsDir/${checkRefName(sinkId)}", s"$batchId\n")

  // ---------------------------------------------------------------------
  // BRANCHES + WRITE-AUDIT-PUBLISH (the Iceberg branch / WAP contract):
  // branch commits stage version dirs INVISIBLE to live readers (key
  // pointers never move), auditors read the head like any snapshot, and
  // a validated head FAST-FORWARDS into main in one metadata operation.

  /** All branches: name → (head snapshot, fork-base snapshot). */
  def branches(spark: SparkSession, root: String)
      : Map[String, (String, String)] =
    refFiles(spark, root, BranchesDir).map { case (n, text) =>
      val Array(head, base) = text.split("\t", 2)
      n -> ((head, base))
    }

  def branchHead(spark: SparkSession, root: String,
      name: String): Option[String] =
    branches(spark, root).get(name).map(_._1)

  /** Create a branch at a kept snapshot or ref (default: current). */
  def createBranch(spark: SparkSession, root: String, name: String,
      from: Option[String] = None): String = {
    checkRefName(name)
    ManifestTable.withPublishLock(root) {
      val snap = snapOf(spark, root,
        from.flatMap(r => resolveRef(spark, root, Some(r))))
      require(snapshots(spark, root).contains(snap),
        s"$logName: cannot branch from unknown/expired snapshot $snap")
      require(!branches(spark, root).contains(name),
        s"$logName: branch '$name' already exists")
      // checked under the lock, so the atomic-overwrite path every
      // branch update uses is safe (writeOnce's fs.create would leave a
      // CRC sidecar the NIO pointer swaps don't maintain)
      ManifestTable.swapRefPointer(root, s"$BranchesDir/$name",
        s"$snap\t$snap\n")
      snap
    }
  }

  /** Drop a branch; its head re-enters keep-N at the next commit. */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    checkRefName(name)
    ManifestTable.withPublishLock(root) {
      fsOf(spark, root).delete(new HPath(root, s"$BranchesDir/$name"), false)
    }
  }

  /** Commit to a BRANCH: the touched keys' version dirs are STAGED, the
    * snapshot lands in the shared history, and only the branch pointer
    * advances. EXISTING keys only: a branch-created key directory would
    * show up in live listings with no pointer. `updates` maps each key
    * to its `fields` values and rows, written in ONE [[writeTagged]]
    * job; where the table records its schema (`recordSchema`), they
    * evolve the branch head's. */
  protected def commitToBranch(spark: SparkSession, root: String,
      branch: String, keepSnapshots: Int, leafRoot: String => String,
      fields: Seq[String], updates: Map[String, (Seq[String], DataFrame)],
      recordSchema: Boolean): String = {
    require(keepSnapshots >= 2, "keepSnapshots must be >= 2")
    require(updates.nonEmpty, "branch commit needs updates")
    val keys = updates.keys.toSeq
    val data = unionTagged(fields, updates.values.toMap).get
    val dataCols = data.columns.toSeq.filterNot(fields.contains)
    ManifestTable.withPublishLock(root) {
      val (head, base) = branches(spark, root).getOrElse(branch,
        sys.error(s"$logName: no branch '$branch'"))
      val baseMapping = snapshotMapping(spark, root, head).toMap
      val unknown = keys.filterNot(baseMapping.contains).sorted
      require(unknown.isEmpty,
        s"$logName: branch commit may only touch existing $keysNoun " +
          s"(new: ${unknown.mkString(",")}) - create $keysNoun on main first")
      val schema =
        if (!recordSchema) None
        else evolvedSchema(snapshotSchema(spark, root, head),
          Some(StructType(data.schema.filter(f => dataCols.contains(f.name)))))
      val scratch = s"$root/.commit-${uuid8()}"
      writeTagged(data, fields, scratch)
      try {
        val staged = keys.sorted.map(k => k -> new HPath(
          ManifestTable.stageVersion(s"$root/${leafRoot(k)}", versionSource(
            spark, root, Some(scratch), k, leafRoot,
            _ => data.select(dataCols.map(col): _*).limit(0)))).getName)
        val snap = writeSnapshotLocked(spark, root,
          (baseMapping ++ staged).toSeq.sortBy(_._1), keepSnapshots, schema,
          advanceRoot = false, operation = "branch-commit")
        ManifestTable.swapRefPointer(root, s"$BranchesDir/$branch",
          s"$snap\t$base\n")
        snap
      } finally fsOf(spark, root).delete(new HPath(scratch), true)
    }
  }

  /** PUBLISH a branch: fast-forward main to its head in one metadata
    * operation (repoint diverged keys, swap the root pointer; the staged
    * dirs become live). Fails loudly if main advanced since the fork —
    * that would drop main's commits. The branch is then synced. */
  protected def fastForwardBranch(spark: SparkSession, root: String,
      branch: String, leafRoot: String => String): String =
    ManifestTable.withPublishLock(root) {
      val (head, base) = branches(spark, root).getOrElse(branch,
        sys.error(s"$logName: no branch '$branch'"))
      val cur = currentSnapshot(spark, root).getOrElse(sys.error(
        s"$logName: no snapshot committed under $root"))
      if (head == cur) head
      else {
        require(cur == base,
          s"$logName: main advanced since branch '$branch' forked " +
            s"($base -> $cur) - a fast-forward would drop main's " +
            "commits; recreate the branch from current and replay " +
            "(rebase), then publish")
        repointAll(spark, root, snapshotMapping(spark, root, head),
          leafRoot, "branch head")
        ManifestTable.swapRootPointer(root, head, "fast-forward")
        ManifestTable.swapRefPointer(root, s"$BranchesDir/$branch",
          s"$head\t$head\n")
        head
      }
    }

  // ---------------------------------------------------------------------
  // ROLLBACK, EXPIRY, ORPHAN SWEEP, INSPECTION TABLES

  /** ROLLBACK to a kept snapshot or ref as a NEW forward commit (the
    * Iceberg `rollback_to_snapshot`), METADATA-ONLY: diverged keys
    * repoint at the target's dirs and the target mapping (and recorded
    * schema) lands as a fresh snapshot, so CDC sees the restore as a
    * diff. Keys created after the target fail it loudly: live-pointer
    * readers would see them, snapshot readers would not. */
  protected def rollbackTo(spark: SparkSession, root: String,
      toSnap: String, keepSnapshots: Int, leafRoot: String => String,
      liveKeys: () => Seq[String]): String = {
    require(keepSnapshots >= 2, "keepSnapshots must be >= 2")
    ManifestTable.withPublishLock(root) {
      val snap = resolveRef(spark, root, Some(toSnap)).get
      val target = snapshotMapping(spark, root, snap)
      require(target.nonEmpty, s"$logName: empty rollback target $snap")
      val extra = liveKeys().filterNot(target.map(_._1).toSet)
      require(extra.isEmpty,
        s"$logName: $keysNoun ${extra.mkString(",")} were created after " +
          s"$snap - rollback cannot restore their absence for " +
          "live-pointer readers; remove them first")
      repointAll(spark, root, target, leafRoot, "rollback target")
      writeSnapshotLocked(spark, root, target.sortBy(_._1), keepSnapshots,
        snapshotSchema(spark, root, snap), operation = "rollback")
    }
  }

  /** AGE-BASED expiry (Iceberg's `expire_snapshots`): drop unpinned
    * snapshot files (pinned with `keepLast`) committed before
    * `olderThanMs`. Metadata-only; version-dir GC stays lazy, as after
    * the keep-N trim. Returns the expired names. */
  def expireSnapshots(spark: SparkSession, root: String,
      olderThanMs: Long, keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 2, "keepLast must be >= 2 (current + previous)")
    ManifestTable.withPublishLock(root) {
      val all = snapshots(spark, root)
      val expired = all.filterNot(pinned(spark, root, all, keepLast))
        .filter(sn => snapshotCommittedMs(spark, root, sn)
          .exists(_ < olderThanMs))
      expired.foreach(sn =>
        fsOf(spark, root).delete(new HPath(root, s"$SnapDir/$sn"), false))
      expired
    }
  }

  /** ORPHAN sweep (Iceberg's `remove_orphan_files`): a crashed writer
    * strands dot-prefixed scratch dirs (written outside any lock by
    * design) and version dirs no snapshot came to reference. Under the
    * root and every key directory, delete those older than `graceMs`
    * (the in-flight-writer window); referenced = named by a kept
    * snapshot, a MOR chain below one, or a live key pointer. Locked, so
    * the reference set cannot move mid-scan. Returns deleted paths. */
  protected def sweepOrphans(spark: SparkSession, root: String,
      graceMs: Long, leafRoot: String => String,
      liveKeys: () => Seq[String]): Seq[String] =
    ManifestTable.withPublishLock(root) {
      val fs = fsOf(spark, root)
      val cutoff = System.currentTimeMillis() - graceMs
      val keys = liveKeys()
      val referenced: Map[String, Set[String]] =
        (snapshots(spark, root).flatMap(sn => snapshotMapping(spark, root, sn))
          ++ keys.flatMap(k => ManifestTable.currentVersion(
            s"$root/${leafRoot(k)}").map(k -> _)))
          .groupBy(_._1).map { case (k, ds) => k -> ds.map(_._2).toSet }
      val deleted = scala.collection.mutable.ListBuffer.empty[String]
      def sweep(dir: HPath)(orphan: String => Boolean): Unit =
        if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
          if (st.isDirectory && st.getModificationTime < cutoff &&
              orphan(st.getPath.getName)) {
            fs.delete(st.getPath, true)
            deleted += st.getPath.toString
          }
        }
      sweep(new HPath(root))(_.startsWith("."))
      keys.foreach { k =>
        val pr = s"$root/${leafRoot(k)}"
        val refs = expandMorProtect(spark, pr,
          referenced.getOrElse(k, Set.empty))
        sweep(new HPath(pr))(name => name.startsWith(".") ||
          (name.startsWith("v") && name.drop(1).headOption.exists(_.isDigit)
            && !refs.contains(name)))
      }
      deleted.sorted.toSeq
    }

  /** SNAPSHOT inspection table (Iceberg's `table.snapshots`): one row
    * per kept snapshot — id, wall-clock, operation, parent, key count.
    * Metadata-only; pre-header files show null operation/parent. */
  def snapshotsMetadata(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    snapshots(spark, root).map { sn =>
      val text = snapshotText(spark, root, sn)
      SnapshotLog.SnapshotMeta(sn, header(text, "committed_ms").map(_.toLong),
        header(text, "operation"), header(text, "parent"),
        text.linesIterator
          .count(l => l.nonEmpty && !l.startsWith("#")).toLong)
    }.toDF()
  }

  /** FILE inspection table (Iceberg's `table.files`): one row per data
    * file of a snapshot (default current) — the inventory compaction
    * planners, skew debuggers and storage audits read. Listings and
    * `_filestats.tsv` sidecars only (zero data bytes); merge-on-read
    * dirs contribute their `_delta/` files, so every live byte counts. */
  protected def filesMetadataOf(spark: SparkSession, root: String,
      snapshot: Option[String], leafRoot: String => String): DataFrame = {
    import spark.implicits._
    snapshotMapping(spark, root, snapOf(spark, root, snapshot)).flatMap { case (k, d) =>
      filesOfVersion(spark, s"$root/${leafRoot(k)}/$d", k, d)
    }.toDF()
  }

  private def filesOfVersion(spark: SparkSession, dirPath: String,
      partition: String, version: String): Seq[FileMeta] = {
    val fs = fsOf(spark, dirPath)
    val base = new HPath(dirPath)
    val stats = FileStats.statsFor(spark, dirPath).getOrElse(Map.empty)
    def walk(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (n.startsWith(".")) Nil else walk(st.getPath)
        } else if (n.startsWith("_") || n.startsWith(".")) Nil
        else Seq(st)
      }
    walk(base).map { st =>
      val rel = st.getPath.toString.stripPrefix(
        fs.makeQualified(base).toString).stripPrefix("/")
      SnapshotLog.FileMeta(partition, version, rel, st.getLen,
        st.getModificationTime,
        stats.getOrElse(rel, Map.empty).map { case (c, cs) =>
          c -> (cs.typ, cs.min, cs.max) })
    }
  }

  /** HISTORY inspection table (Iceberg's `table.history`): every root
    * pointer movement, oldest first, incl. fast-forwards (which write no
    * snapshot file) — the journal [[ManifestTable.swapRootPointer]]
    * keeps. */
  def historyMetadata(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val cur = currentSnapshot(spark, root)
    val lines = ManifestTable.historyLines(root)
    lines.zipWithIndex.map { case (l, i) =>
      val Array(ts, snap, action) = l.split("\t", 3)
      SnapshotLog.HistoryMeta(ts.toLong, snap, action,
        i == lines.length - 1 && cur.contains(snap))
    }.toDF()
  }
}

object SnapshotLog {
  private val SnapDir = "_snapshots"
  private val RefsDir = "_refs"
  private val BranchesDir = "_branches"
  private val StreamRefsDir = "_refs_stream"

  /** One row of [[SnapshotLog.snapshotsMetadata]]. */
  final case class SnapshotMeta(snapshot: String,
      committedMs: Option[Long], operation: Option[String],
      parent: Option[String], entries: Long)

  /** One row of the files table: key (partition value or leaf path),
    * version dir, file path RELATIVE to it (MOR delta files keep their
    * `_delta/` prefix), size, mtime, and per-column zone-map stats
    * (empty where unanalyzed). */
  final case class FileMeta(partition: String, version: String,
      file: String, bytes: Long, modified: Long,
      stats: Map[String, (String, Option[String], Option[String])])

  /** One row of [[SnapshotLog.historyMetadata]]. */
  final case class HistoryMeta(madeCurrentMs: Long, snapshot: String,
      action: String, isCurrent: Boolean)

  private[engine] def uuid8(): String =
    java.util.UUID.randomUUID.toString.take(8)

  /** First 8 hex digits of the MD5 of `s` — content-hash pin names. */
  private[engine] def hash8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)

  private[engine] def readUtf8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  /** A `#key=value` header of a snapshot file. */
  private def header(text: String, key: String): Option[String] =
    text.linesIterator.find(_.startsWith(s"#$key="))
      .map(_.stripPrefix(s"#$key=").trim)
}
