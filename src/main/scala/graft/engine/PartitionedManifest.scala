package graft.engine

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The SINGLE-COLUMN table layout, an ADAPTER over the one table
  * engine ([[MergeOnRead]] over [[SnapshotLog]]) that also serves
  * [[SpecManifest]]: this layout reads, commits, diffs and analyzes as a
  * one-field `identity(partCol)` table —
  *
  * {{{
  *   root/bk=0/MANIFEST        -> names root/bk=0/v000002-xxxx/
  *   root/bk=0/v000002-xxxx/   (parquet, partition column NOT stored)
  *   root/bk=1/MANIFEST        -> ...
  *   root/MANIFEST, root/_snapshots/, root/_refs/, root/_branches/
  * }}}
  *
  * Every partition is its own [[ManifestTable]] root, so a publish
  * rewrites ONLY the touched partitions, each flipping old→new in one
  * pointer swap; the partition column lives in the DIRECTORY NAME. What
  * differs from a spec table is data passed to the engine: the snapshot
  * key is the escaped partition value `v` (`leafOf`: `v` ↔ `bk=v`), the
  * partition column serves as `partType`, and snapshots record the
  * table schema (`#schema=`). Each method here translates
  * `partCol`/`partType` into the shared code; what stays
  * single-column-only has no spec-table caller: partition publication
  * and in-place adoption, the NAMED catalog table ([[syncCatalogTable]]),
  * the metadata-only [[dropColumn]], the file-skipping scans, file counts
  * and the packet step registrations.
  */
object PartitionedManifest extends MergeOnRead {

  /** See [[MergeOnRead.LayoutValidationException]]. */
  type LayoutValidationException = MergeOnRead.LayoutValidationException

  /** One Spark job writes `df` hive-partitioned by `partCol` into a
    * scratch dir; each partition directory is then ADOPTED (one rename,
    * no data copy) as version 1 of its own manifest root. */
  def seed(spark: SparkSession, root: String, df: DataFrame,
      partCol: String): Unit = {
    val scratch = s"$root/.seed-${java.util.UUID.randomUUID.toString.take(8)}"
    // rebalance on the partition value: without it every shuffle
    // partition writes a sliver into every bk=N dir (tasks x partitions
    // small files - the 100 TB anti-pattern). REBALANCE instead of
    // repartition(partCol) because the latter pins each value to ONE
    // task - a skewed value would write its whole volume through a
    // single writer; AQE's rebalance coalesces small values into few
    // tasks (still one file per value) and SPLITS a skewed value across
    // writers at the advisory partition size
    df.hint("rebalance", col(partCol))
      .write.mode("error").partitionBy(partCol).parquet(scratch)
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new HPath(scratch))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$partCol="))
    require(parts.nonEmpty, s"seed produced no $partCol=* partitions")
    // independent per-partition pointer adoptions — overlap them
    Par.map(parts.toSeq) { p =>
      ManifestTable.adoptVersion(s"$root/${p.getPath.getName}",
        p.getPath.toString)
    }
    fs.delete(new HPath(scratch), true)
  }

  /** Migrate an EXISTING hive-partitioned layout (plain `root/bk=N/`
    * parquet dirs, e.g. a partitioned CTAS output) into the manifest
    * layout IN PLACE: each partition's files move into their v1 version
    * directory by two renames — zero bytes rewritten, the adoption
    * story a 100 TB table needs. Idempotent: partitions that already
    * have a MANIFEST are left untouched (resume-safe). */
  def adoptExisting(spark: SparkSession, root: String,
      partCol: String): Unit = {
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new HPath(root))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$partCol="))
    parts.foreach { p =>
      val name = p.getPath.getName
      if (!fs.exists(new HPath(p.getPath, "MANIFEST"))) {
        val tmp = new HPath(root, s".adopt-$name")
        require(fs.rename(p.getPath, tmp),
          s"PartitionedManifest: cannot stage $name for adoption")
        ManifestTable.adoptVersion(s"$root/$name", tmp.toString)
      }
    }
  }

  /** Publish one partition's replacement rows (the staged copy-on-write
    * result, WITHOUT the partition column — it lives in the directory
    * name) as that partition's next version: full write → one atomic
    * pointer swap → keep-2 GC, all inherited from [[ManifestTable]]. */
  def publishPartition(spark: SparkSession, root: String, partCol: String,
      value: String, df: DataFrame): String = {
    val k = escapeValue(value)
    // on a snapshot-managed root, the per-partition keep-2 GC must not
    // collect versions the KEPT snapshots still reference (keep-N can
    // exceed the pointer horizon) — protect every dir any kept snapshot
    // names for this partition
    ManifestTable.publish(spark, s"$root/$partCol=$k", dropCol(df, partCol),
      snapshotProtected(spark, root, s"$root/$partCol=$k", k))
  }

  /** Version-directory names every kept snapshot references for one
    * partition key (empty when the root has no snapshots), expanded
    * through merge-on-read base chains: a MOR version dir is only
    * readable while its base chain survives, so protecting the dir a
    * snapshot names must protect everything it layers on. */
  private def snapshotProtected(spark: SparkSession, root: String,
      partRoot: String, key: String): Set[String] =
    expandMorProtect(spark, partRoot,
      snapshots(spark, root)
        .flatMap(sn => snapshotMapping(spark, root, sn))
        .collect { case (k, d) if k == key => d }.toSet)

  /** The snapshot keys (escaped partition values) present under `root`,
    * from the directory names (partition-count-bounded listing). */
  private def partKeys(spark: SparkSession, root: String,
      partCol: String): Seq[String] =
    fsOf(spark, root).listStatus(new HPath(root))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName.stripPrefix(s"$partCol="))
      .sorted.toSeq

  /** The partition values present under `root`. */
  def partitionValues(spark: SparkSession, root: String,
      partCol: String): Seq[String] =
    partKeys(spark, root, partCol).map(unescapeValue).sorted

  private def leafOf(partCol: String): String => String = k => s"$partCol=$k"

  /** Every partition's LIVE (key, version dir), each pointer resolved
    * once. */
  private def liveMapping(spark: SparkSession, root: String,
      partCol: String): Seq[(String, String)] = {
    val keys = partKeys(spark, root, partCol)
    require(keys.nonEmpty, s"PartitionedManifest: no $partCol=* under $root")
    keys.map(k => k -> ManifestTable.currentVersion(s"$root/$partCol=$k")
      .getOrElse(sys.error(
        s"PartitionedManifest: no MANIFEST under $root/$partCol=$k")))
  }

  private def recorded(spark: SparkSession, root: String): Option[StructType] =
    currentSnapshot(spark, root).flatMap(snapshotSchema(spark, root, _))

  /** The pins a reader may still hold: the live pointers' under the
    * current schema and each kept snapshot's under its own. */
  private def validPins(spark: SparkSession, root: String,
      partCol: String): Seq[String] = {
    val live =
      try liveMapping(spark, root, partCol)
      catch { case scala.util.control.NonFatal(_) => Nil }
    pinsOf(spark, root, leafOf(partCol), live, Seq(recorded(spark, root))) ++
      snapshots(spark, root).flatMap(sn => pinsOf(spark, root,
        leafOf(partCol), snapshotMapping(spark, root, sn),
        Seq(snapshotSchema(spark, root, sn))))
  }

  private def serve(spark: SparkSession, root: String, partCol: String,
      partType: String, mapping: Seq[(String, String)],
      schema: Option[StructType]): DataFrame =
    serveMapping(spark, root, leafOf(partCol), Seq(partCol -> partType),
      mapping, schema, None, () => validPins(spark, root, partCol))

  /** Cross-session reader: every partition's LIVE pointer, resolved once,
    * served under the current snapshot's recorded schema (a column
    * added since an old version dir reads as NULL; a metadata-only drop
    * projects it away) through the engine's content pin, one relation
    * with real PartitionFilters pruning at any partition count. Each
    * resolved dir is a complete old or new version, never a mixture. */
  def read(spark: SparkSession, root: String, partCol: String,
      partType: String): DataFrame =
    serve(spark, root, partCol, partType, liveMapping(spark, root, partCol),
      recorded(spark, root))

  /** Read a COMMITTED snapshot (default: current), every partition at
    * one commit under the schema as of that commit; the reader horizon
    * is the keep-N of [[servePinned]]. Re-resolving an expired snapshot
    * fails loudly at [[snapshotMapping]]. */
  def readSnapshot(spark: SparkSession, root: String, partCol: String,
      partType: String, snapshot: Option[String] = None): DataFrame = {
    val snap = snapOf(spark, root, snapshot)
    serve(spark, root, partCol, partType, snapshotMapping(spark, root, snap),
      snapshotSchema(spark, root, snap))
  }

  /** In-session serving through a NAMED catalog table whose partition
    * LOCATIONs are the current version dirs. A publish flips a partition
    * with one `ALTER TABLE … SET LOCATION`, a single catalog operation,
    * so in-session readers get the pointer file's old-or-new guarantee,
    * and queries plan ONE partitioned relation (see [[syncRelation]]). */
  def syncCatalogTable(spark: SparkSession, root: String, table: String,
      partCol: String, partType: String): Unit =
    syncTable(spark, root, table, partCol, partType,
      liveMapping(spark, root, partCol), recorded(spark, root))

  /** Pin a named catalog table to a SNAPSHOT (default: current): a
    * historical commit serves through the same single partitioned
    * relation as current-state serving. */
  def syncCatalogTableSnapshot(spark: SparkSession, root: String,
      table: String, partCol: String, partType: String,
      snapshot: Option[String] = None): Unit = {
    val snap = snapOf(spark, root, snapshot)
    val mapping = snapshotMapping(spark, root, snap)
    require(mapping.nonEmpty, s"empty snapshot $snap")
    syncTable(spark, root, table, partCol, partType, mapping,
      snapshotSchema(spark, root, snap))
  }

  private def syncTable(spark: SparkSession, root: String, table: String,
      partCol: String, partType: String, mapping: Seq[(String, String)],
      schema: Option[StructType]): Unit = {
    val leaves = mapping.map { case (k, d) =>
      s"$partCol=$k" -> s"$root/$partCol=$k/$d" }
    // a catalog partition LOCATION serves raw parquet — a merge-on-read
    // version dir's delta files would read as the whole partition. Fail
    // LOUDLY; compact() folds it back to a pure dir
    leaves.foreach { case (lp, d) =>
      require(!isMorDir(spark, d),
        s"PartitionedManifest: partition $lp is merge-on-read at $d - " +
          "catalog locations cannot serve MOR content; compact() first " +
          "(read()/readSnapshot() resolve MOR transparently)")
    }
    syncRelation(spark, root, table, Seq(partCol -> partType), leaves,
      schema.getOrElse(footerSchema(spark, leaves.head._2)),
      Seq(graft.plans.ZoneMaps.Prop -> "true"))
  }

  // ---------------------------------------------------------------------
  // SNAPSHOT commits: [[SnapshotLog]] over keys at `root/<partCol>=<v>`.

  protected def logName = "PartitionedManifest"
  protected def keysNoun = "partitions"

  /** Commit to a BRANCH ([[SnapshotLog]]'s write-audit-publish):
    * version directories are STAGED (partition pointers never move —
    * live readers cannot see branch data), and only the branch pointer
    * advances; audit via `readSnapshot(resolveRef(branch))`. Branch
    * commits may touch EXISTING partitions only; additive schema
    * evolution applies against the branch head's recorded schema. */
  def commitSnapshotToBranch(spark: SparkSession, root: String,
      partCol: String, updates: Map[String, DataFrame], branch: String,
      keepSnapshots: Int = 2): String =
    commitToBranch(spark, root, branch, keepSnapshots, leafOf(partCol),
      Seq(partCol), updates.map { case (v, df) =>
        escapeValue(v) -> (Seq(v), df) }, recordSchema = true)

  /** PUBLISH a branch: fast-forward main to its head in one metadata
    * operation (see [[SnapshotLog]]). */
  def fastForward(spark: SparkSession, root: String, partCol: String,
      branch: String): String =
    fastForwardBranch(spark, root, branch, leafOf(partCol))

  /** ROLLBACK to a kept snapshot or tag as a NEW forward commit,
    * metadata-only (see [[SnapshotLog]]). Partitions CREATED after the
    * target fail it loudly: snapshot readers would never see them but
    * the live per-partition `read()` path would — drop them first. */
  def rollback(spark: SparkSession, root: String, partCol: String,
      toSnap: String, keepSnapshots: Int = 2): String =
    rollbackTo(spark, root, toSnap, keepSnapshots, leafOf(partCol),
      () => partKeys(spark, root, partCol))

  private def dropCol(df: DataFrame, partCol: String): DataFrame =
    if (df.columns.contains(partCol)) df.drop(partCol) else df

  /** METADATA-ONLY column drop (the Iceberg drop-column contract): a
    * new snapshot commits the SAME partition→version mapping with the
    * column removed from the recorded schema — no data is read, moved,
    * or rewritten (the bytes stay in the immutable version dirs, where
    * time travel to pre-drop snapshots still serves them; the next
    * compaction of a partition materializes the reduced shape). ADD
    * column needs no API at all: commit an update carrying the new
    * column and additive evolution appends it — older partitions read it
    * as NULL. Returns the new snapshot name. */
  def dropColumn(spark: SparkSession, root: String, partCol: String,
      column: String, keepSnapshots: Int = 2): String = {
    require(column != partCol,
      s"dropColumn: '$column' is the partition column")
    ManifestTable.withPublishLock(root) {
      val snap = currentSnapshot(spark, root).getOrElse(sys.error(
        s"PartitionedManifest: dropColumn needs a committed snapshot " +
          s"under $root"))
      val mapping = snapshotMapping(spark, root, snap)
      val schema = snapshotSchema(spark, root, snap).orElse(
        firstFooter(spark, root, leafOf(partCol))(mapping)).get
      require(schema.fieldNames.contains(column),
        s"dropColumn: no column '$column' " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      val reduced = StructType(schema.filterNot(_.name == column))
      require(reduced.fields.nonEmpty,
        "dropColumn: cannot drop the last data column")
      writeSnapshotLocked(spark, root, mapping, keepSnapshots,
        Some(reduced), operation = "drop-column")
    }
  }

  /** Incremental (CDC) read: the row-level changes between two kept
    * snapshots (either end may be a tag or branch name), `changeCol` ∈
    * {'insert','delete'}; see [[diffSnapshots]]. */
  def changesBetween(spark: SparkSession, root: String, partCol: String,
      partType: String, fromRef: String, toRef: String,
      changeCol: String = "_change_type"): DataFrame = {
    val Seq(from, to) =
      Seq(fromRef, toRef).map(r => resolveRef(spark, root, Some(r)).get)
    diffSnapshots(spark, root, leafOf(partCol), Seq(partCol -> partType),
      from, to, changeCol, readSnapshot(spark, root, partCol, partType,
        Some(to)))
  }

  /** One partition's current logical content (no partition column) —
    * MOR-resolving; the public single-partition reader the streaming
    * sink and merge paths use instead of a raw parquet read of the
    * live version dir (which would be empty on a MOR-live partition). */
  def readPartition(spark: SparkSession, root: String, partCol: String,
      value: String, schema: Option[StructType] = None): DataFrame =
    readLive(spark, s"$root/$partCol=${escapeValue(value)}",
      schema.orElse(recorded(spark, root)))

  /** MERGE-ON-READ commit ([[commitMergeCore]]) over partition-keyed
    * `upserts` (rows of exactly the recorded schema, keyed by `keyCols`)
    * and `deletes` (key rows) into existing partitions; `foldChainAt`
    * (> 0) bounds the delta chain inline, 0 leaves it to [[compact]].
    * Returns the snapshot name. */
  def commitMerge(spark: SparkSession, root: String, partCol: String,
      keyCols: Seq[String], upserts: Map[String, DataFrame] = Map.empty,
      deletes: Map[String, DataFrame] = Map.empty,
      keepSnapshots: Int = 2, foldChainAt: Int = 0,
      onBeforeLock: () => Unit = () => ()): String = {
    def byKey(m: Map[String, DataFrame]) =
      m.map { case (v, df) => escapeValue(v) -> df }
    commitMergeCore(spark, root, leafOf(partCol), Seq(partCol), keyCols,
      byKey(upserts), byKey(deletes), keepSnapshots, foldChainAt,
      onBeforeLock)
  }

  /** Commit a snapshot ([[commitTagged]]): `updates` maps a partition
    * value to its new rows (the partition column, if present, is
    * dropped); every touched partition's version dir comes from ONE
    * Spark job, each partition pointer advances (both reader paths
    * agree), and one root rename publishes the delta. Updates evolve
    * the recorded schema additively. `keepSnapshots` (≥ 2) is the
    * time-travel horizon. Returns the snapshot name. */
  def commitSnapshot(spark: SparkSession, root: String, partCol: String,
      updates: Map[String, DataFrame], keepSnapshots: Int = 2): String =
    commitTagged(spark, root, leafOf(partCol), Seq(partCol),
      unionTagged(Seq(partCol), updates.map { case (v, df) => Seq(v) -> df }),
      updates.keys.toSeq.map(escapeValue), keepSnapshots,
      () => partKeys(spark, root, partCol), recordSchema = true)

  /** Data files in a table root's LIVE version directory (pointer
    * resolved once; `_`/`.`-prefixed metadata entries excluded). */
  def dataFileCount(spark: SparkSession, tableRoot: String): Int =
    dataFiles(spark, tableRoot).size

  /** SMALL data files (strictly under `maxBytes`) in the live version —
    * the compaction-candidate count: files already at or above the
    * target size are not fragmentation and re-writing them would never
    * converge (a partition bigger than the write-side advisory size
    * legitimately holds several advisory-sized files forever). */
  def smallDataFileCount(spark: SparkSession, tableRoot: String,
      maxBytes: Long): Int =
    dataFiles(spark, tableRoot).count(_.getLen < maxBytes)

  private def dataFiles(spark: SparkSession, tableRoot: String)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    ManifestTable.currentDataDir(tableRoot).toSeq
      .flatMap(dataFilesIn(spark, _))

  private def dataFilesIn(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fsOf(spark, dir).listStatus(new HPath(dir)).toSeq.filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".")
    }

  /** Small-file compaction — the Iceberg `rewrite_data_files` /
    * OPTIMIZE maintenance pass, and the lakehouse analogue of the
    * reference's maintenance packet family (db_converter's
    * `maintenance` packets run VACUUM-ish upkeep through the same
    * run/track machinery; here the upkeep target is file layout).
    * Every partition whose live version holds more than `maxFiles`
    * SMALL data files (strictly under `smallFileBytes`), and every
    * merge-on-read partition (its rewrite is the fold-down), is
    * rewritten — content-preserving by construction: the update is the
    * partition's OWN resolved rows through one REBALANCE write (a small
    * partition lands in one file, one above the advisory size in
    * advisory-sized files), published in ONE atomic snapshot commit.
    * Convergent by the size gate, so the next run selects nothing. The
    * advisory sizes PRE-ENCODING shuffle bytes, so on-disk parquet
    * lands at advisory/compression-ratio — `smallFileBytes` must stay
    * BELOW that (the 8 MB default tolerates 8x compression under the
    * 64 MB advisory default; raise it only in step with the advisory,
    * or a just-compacted compressible partition re-qualifies forever).
    * Untouched partitions keep their version dirs byte-for-byte, and a
    * run that selects NOTHING commits NOTHING (safe to schedule against
    * a healthy table). Pass the table's own `keepSnapshots` horizon: a
    * real compaction IS a commit and trims like any other.
    *
    * Concurrency is OPTIMISTIC ([[MergeOnRead]]'s rewrite loop): the
    * rewrite runs with no lock held, pointer identity validates each
    * partition under the lock, and partitions a concurrent commit
    * touched mid-rewrite retry against their fresh versions, up to
    * `maxAttempts` rounds (skipping a hot partition is always safe).
    *
    * `clusterBy` turns the rewrite into a CLUSTERED OPTIMIZE (Iceberg's
    * rewrite_data_files with a sort order / Delta's OPTIMIZE ZORDER
    * BY): each partition is RANGE-SPLIT on the cluster columns into
    * `clusterFiles` files (0 = size-derived from `clusterTargetBytes`),
    * each internally sorted — so the [[analyzeFileStats]] zone maps get
    * DISJOINT per-file spans and range scans drop whole files (w19 pins
    * the before/after pruning). It selects every partition not already
    * carrying this exact layout's marker (plus MOR-live ones), writes
    * one job per partition, and with an explicit `clusterFiles` is NOT
    * convergent under the small-file gate by design.
    *
    * @param onBeforeValidate test seam, called after each rewrite
    *        completes and BEFORE the lock is re-acquired for validation
    * @return (snapshot id — the LAST commit this pass made, or the
    *         unchanged current one when nothing qualified; compacted
    *         partition values)
    */
  def compact(spark: SparkSession, root: String, partCol: String,
      maxFiles: Int = 1, keepSnapshots: Int = 2,
      smallFileBytes: Long = 8L << 20, maxAttempts: Int = 3,
      onBeforeValidate: () => Unit = () => (),
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 0,
      clusterTargetBytes: Long = 128L << 20,
      clusterZOrder: Boolean = false): (String, Seq[String]) = {
    val clustering =
      if (clusterBy.isEmpty) None
      else Some(MergeOnRead.Clustering(clusterBy, clusterFiles,
        clusterTargetBytes, clusterZOrder))
    val (snap, keys) = rewriteLeaves(spark, root, leafOf(partCol),
      () => partKeys(spark, root, partCol),
      _.filter { case (_, dir) =>
        isMorDir(spark, dir) || (clustering match {
          case Some(c) => !isClusteredAs(spark, dir, c)
          case None =>
            dataFilesIn(spark, dir).count(_.getLen < smallFileBytes) > maxFiles
        })
      },
      None, clustering, keepSnapshots, maxAttempts, "compact",
      onBeforeValidate, firstFooter(spark, root, leafOf(partCol)))
    (snap, keys.map(unescapeValue))
  }
  /** ORPHAN cleanup ([[SnapshotLog]]'s sweep) under the root and every
    * partition root; the partition column is read off the table's own
    * `<col>=<value>` layout. Returns the deleted paths. */
  def cleanOrphans(spark: SparkSession, root: String,
      graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val pc = snapshotPartCol(spark, root)
    sweepOrphans(spark, root, graceMs, leafOf(pc),
      () => partKeys(spark, root, pc))
  }

  /** FILE inspection table of a snapshot (see [[SnapshotLog]]). */
  def filesMetadata(spark: SparkSession, root: String, partCol: String,
      snapshot: Option[String] = None): DataFrame =
    filesMetadataOf(spark, root, snapshot, leafOf(partCol))

  /** The partition column name recoverable from the table's own layout
    * (`<col>=<value>` dirs) — lets maintenance passes run without the
    * caller restating it. Fails loudly on an empty root. */
  private def snapshotPartCol(spark: SparkSession, root: String): String = {
    val fs = fsOf(spark, root)
    fs.listStatus(new HPath(root)).collectFirst {
      case st if st.isDirectory && st.getPath.getName.contains("=") &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_") =>
        st.getPath.getName.split("=", 2)(0)
    }.getOrElse(sys.error(
      s"PartitionedManifest: no <col>=<value> dirs under $root"))
  }

  // ---------------------------------------------------------------------
  // FILE-LEVEL DATA SKIPPING (zone maps): ANALYZE collects parquet
  // footer min/max per file into an immutable sidecar per version dir
  // (see [[FileStats]]); a range scan drops whole files whose [min,max]
  // cannot intersect the predicate — the pruning layer BELOW partition
  // pruning, at zero collection IO (footers only).

  /** [[analyzeLive]] over every partition's live version dir. */
  def analyzeFileStats(spark: SparkSession, root: String, partCol: String,
      cols: Seq[String]): Int =
    analyzeLive(spark, partKeys(spark, root, partCol)
      .map(k => s"$root/$partCol=$k"), cols)

  /** Range scan with FILE-LEVEL skipping: serve `col BETWEEN lo AND hi`
    * reading only the files whose zone map may contain a match.
    * Partition-value pruning can ride on top (`partitions`); within the
    * surviving partitions, analyzed versions drop non-intersecting
    * files and UNanalyzed versions keep all theirs (stats are an
    * optimization — absence can never change results). The kept files
    * read as ONE relation; the predicate is RE-APPLIED row-level, so
    * skipping is pure IO elision. Returns (rows, filesKept,
    * filesTotal) — callers assert the elision they expect.
    *
    * Scale shape: the sidecar reads are per-partition metadata
    * (pointer-resolution cost class); the saved work is full FILE
    * scans, the dominant term at 100 TB for selective predicates on
    * clustered columns (e.g. p22's hilbert layout or any
    * time-ordered ingest makes most columns file-clustered). */
  def scanWithFileSkipping(spark: SparkSession, root: String,
      partCol: String, partType: String, column: String,
      lo: Double, hi: Double,
      partitions: Option[Seq[String]] = None)
      : (DataFrame, Int, Int) =
    skipScan(spark, root, partCol, partType, column, partitions,
      _.mayMatch(lo, hi), df => df.filter(col(column) >= lo &&
        col(column) <= hi))

  /** [[scanWithFileSkipping]] for STRING columns (binary-order bounds —
    * parquet string min/max are unsigned-byte ordered, which agrees
    * with Java string order on ASCII; the conservative mayMatchString
    * never skips on a stats type mismatch). */
  def scanWithFileSkippingString(spark: SparkSession, root: String,
      partCol: String, partType: String, column: String,
      lo: String, hi: String,
      partitions: Option[Seq[String]] = None)
      : (DataFrame, Int, Int) =
    skipScan(spark, root, partCol, partType, column, partitions,
      _.mayMatchString(lo, hi), df => df.filter(col(column) >= lo &&
        col(column) <= hi))

  private def skipScan(spark: SparkSession, root: String,
      partCol: String, partType: String, column: String,
      partitions: Option[Seq[String]],
      mayMatch: FileStats.ColStat => Boolean,
      applyFilter: DataFrame => DataFrame): (DataFrame, Int, Int) = {
    val keys = partitions.map(_.map(escapeValue))
      .getOrElse(partKeys(spark, root, partCol))
    var total = 0
    var keptFiles = Vector.empty[String]
    keys.foreach { k =>
      val dir = ManifestTable.currentDataDir(s"$root/$partCol=$k")
        .getOrElse(sys.error(s"no MANIFEST under $root/$partCol=$k"))
      require(!isMorDir(spark, dir),
        s"PartitionedManifest: partition $k is merge-on-read at $dir - " +
          "skip-scans read top-level data files only; compact() first")
      val stats = FileStats.statsFor(spark, dir)
      val files = dataFilesIn(spark, dir).map(_.getPath.toString).sorted
      total += files.length
      keptFiles ++= files.filter { f =>
        val name = new HPath(f).getName
        stats.flatMap(_.get(name)).flatMap(_.get(column)) match {
          case Some(cs) => mayMatch(cs)
          case None => true // no stats for this file/column: never skip
        }
      }
    }
    val df =
      if (keptFiles.isEmpty)
        read(spark, root, partCol, partType).limit(0)
      else readDirsWithFields(spark, keptFiles, Seq(partCol))
        .withColumn(partCol, col(partCol).cast(partType))
    (applyFilter(df), keptFiles.length, total)
  }

  /** Standing registrations for the merge/SCD2 packets' seed and
    * publish steps (idempotent — call before running these packets). */
  def ensurePacketPublishSteps(): Unit = {
    registerSeedStep("test_merge", "01_step.py",
      "mrg_seed", "mrg_tbl", "mrg_src", "bk", "int")
    registerPublishStep("test_merge", "03_step.py",
      "mrg_delta", "mrg_stage_", "mrg_tbl", "mrg_src", "bk", "int")
    registerSeedStep("test_scd2", "01_step.py",
      "scd_seed", "scd_dim", "scd_src", "bk", "int")
    registerPublishStep("test_scd2", "03_step.py",
      "scd_delta", "scd_stage_", "scd_dim", "scd_src", "bk", "int")
    registerSeedStep("test_compaction", "01_step.py",
      "cmp_seed", "cmp_tbl", "cmp_src", "bk", "int")
    registerCompactionStep("test_compaction", "02_step.py",
      "cmp_tbl", "cmp_src", "bk", "int")
  }

  /** Seed step: adopt the run_once-created partitioned CTAS (already
    * written AT the manifest root) into the per-partition manifest
    * layout - in-place renames, no second write - and expose the
    * catalog table over the current pointers. Resume-safe: already
    * adopted partitions are skipped and the sync is a no-op diff. */
  def registerSeedStep(packet: String, stepFile: String, seedTable: String,
      view: String, rootKey: String, partCol: String,
      partType: String): Unit =
    ScalaSteps.register(packet, stepFile) { ctx =>
      val spark = ctx.spark
      val root = ctx.placeholders.getOrElse(rootKey,
        sys.error(s"$packet/$stepFile: missing placeholder $rootKey"))
      // run_once materialized the seed ONCE as a partitioned external
      // CTAS at the manifest root; drop its catalog entry (files stay)
      // and adopt the partition dirs in place - zero bytes rewritten
      if (spark.catalog.tableExists(seedTable))
        spark.sql(s"DROP TABLE IF EXISTS `$seedTable`")
      adoptExisting(spark, root, partCol)
      syncCatalogTable(spark, root, view, partCol, partType)
      ctx.notice("info",
        s"adopted partitioned manifest $view -> $root ($partCol)")
    }

  /** Compaction step — [[compact]] as a tracked MAINTENANCE action
    * (the reference's maintenance packet family runs table upkeep
    * through the same run/track machinery; here the upkeep is file
    * layout). Re-run/resume safe by CONVERGENCE: a compacted partition
    * has no small files left, so a replayed step selects nothing and
    * commits nothing. */
  def registerCompactionStep(packet: String, stepFile: String,
      view: String, rootKey: String, partCol: String, partType: String,
      maxFiles: Int = 1, keepSnapshots: Int = 2): Unit =
    ScalaSteps.register(packet, stepFile) { ctx =>
      val spark = ctx.spark
      val root = ctx.placeholders.getOrElse(rootKey,
        sys.error(s"$packet/$stepFile: missing placeholder $rootKey"))
      // register with the TABLE'S OWN horizon: committing with a
      // narrower keep-N than the table was built with would trim
      // still-wanted time-travel history as a side effect of upkeep
      val (snap, touched) =
        compact(spark, root, partCol, maxFiles, keepSnapshots)
      ctx.notice("info",
        if (touched.isEmpty) s"compaction no-op for $view (nothing fragmented)"
        else s"compacted $view ${touched.length} partition(s) " +
          s"(${touched.mkString(",")}) as snapshot $snap")
      syncCatalogTable(spark, root, view, partCol, partType)
    }

  /** Publish step: for each delta-touched partition (bounded: the
    * delta's partition footprint), publish its staged table as the
    * partition's next version, then rebuild the view once. */
  def registerPublishStep(packet: String, stepFile: String,
      deltaTable: String, stagePrefix: String, view: String,
      rootKey: String, partCol: String, partType: String,
      keepSnapshots: Int = 2): Unit =
    ScalaSteps.register(packet, stepFile) { ctx =>
      val spark = ctx.spark
      val root = ctx.placeholders.getOrElse(rootKey,
        sys.error(s"$packet/$stepFile: missing placeholder $rootKey"))
      val touched = spark.table(deltaTable)
        .select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).sorted
      // an EMPTY delta commits NOTHING (the compact() rule): a
      // scheduled publish against a quiet source would otherwise mint
      // a content-identical snapshot and trim one real historical
      // commit off the keep-N horizon
      if (touched.isEmpty)
        ctx.notice("info", s"publish no-op for $view (empty delta)")
      else {
        // ONE snapshot commit over the whole delta: per-partition
        // pointers advance for the legacy reader path, and the root
        // snapshot makes the entire publish visible to snapshot readers
        // in one atomic rename (cross-partition consistency).
        // keepSnapshots must be the table's own horizon — see
        // registerCompactionStep.
        val snap = commitSnapshot(spark, root, partCol,
          touched.map(v => v -> spark.table(s"$stagePrefix$v")).toMap,
          keepSnapshots)
        ctx.notice("info", s"published $view ${touched.length} " +
          s"partition(s) (${touched.mkString(",")}) as snapshot $snap")
      }
      syncCatalogTable(spark, root, view, partCol, partType)
    }
}
