package graft.engine

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The SINGLE-COLUMN table layout: partition-scoped atomic
  * publication, where every partition of a table is its own
  * [[ManifestTable]] root —
  *
  * {{{
  *   root/bk=0/MANIFEST        -> names root/bk=0/v000002-xxxx/
  *   root/bk=0/v000002-xxxx/   (parquet, partition column NOT stored)
  *   root/bk=1/MANIFEST        -> ...
  *   root/MANIFEST, root/_snapshots/, root/_refs/, root/_branches/
  * }}}
  *
  * The missing atomicity mode between w02/w05's whole-table manifest
  * (a merge rewrites the full table per publish) and dynamic partition
  * overwrite (a reader mid-overwrite sees a torn mix of files): a
  * publish rewrites ONLY the touched partitions, each flipping old→new
  * in one pointer swap. The partition column lives in the DIRECTORY
  * NAME (hive-style `col=value`), never in the data files.
  *
  * Cross-partition consistency is the root-level snapshot log: the
  * root `MANIFEST`, `_snapshots/`, `_refs/` and `_branches/` are owned
  * by [[SnapshotLog]], shared with the multi-column [[SpecManifest]];
  * here a snapshot key is a partition value `v` at `root/<partCol>=v`,
  * and snapshot files also record the table schema (`#schema=`).
  *
  * Two reader paths. In-session serving goes through
  * [[syncCatalogTable]]: an external partitioned catalog table whose
  * per-partition LOCATIONs are the current version directories —
  * publish flips a partition with one `ALTER TABLE … SET LOCATION`
  * (a single catalog operation, the w02 no-torn-read property), and
  * queries plan ONE partitioned relation with real PartitionFilters
  * pruning (plan-asserted in PlanAuditSpec). Fresh engines with no
  * catalog resolve the per-partition pointer files directly via
  * [[read]], served through one content-pinned partitioned relation.
  */
object PartitionedManifest extends SnapshotLog {

  /** A layout action (clustered OPTIMIZE) was asked to do something it
    * can never succeed at — distinguished from the transient failures
    * [[compact]]'s optimistic retry loop absorbs, so a misconfigured
    * z-order column fails LOUDLY instead of silently no-opping through
    * three retries. */
  final class LayoutValidationException(msg: String)
    extends IllegalArgumentException(msg)

  /** Parquet footer schema of an IMMUTABLE version directory,
    * memoized process-wide. Version dirs are write-once: uuid-named,
    * adopted by a single rename, never mutated afterwards (the
    * underscore sidecars later writes add are reader-invisible), so
    * the footer can never change and repeated commits / reads /
    * DML-eligibility gates stop re-paying the ~25-90 ms listing +
    * footer job each inspection costs (guide §1.2: don't re-compute
    * what you throw away). Bounded: cleared wholesale past 8192
    * entries (schemas are tiny; the bound is paranoia, not need). */
  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private[graft] def footerSchema(spark: SparkSession, dir: String)
      : StructType = {
    if (footerSchemaCache.size > 8192) footerSchemaCache.clear()
    footerSchemaCache.computeIfAbsent(dir,
      d => spark.read.parquet(d).schema)
  }

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
    checkPartValue(value)
    val data = dropCol(df, partCol)
    // on a snapshot-managed root, the per-partition keep-2 GC must not
    // collect versions the KEPT snapshots still reference (keep-N can
    // exceed the pointer horizon) — protect every dir any kept snapshot
    // names for this partition
    ManifestTable.publish(spark, s"$root/$partCol=$value", data,
      snapshotProtected(spark, root, s"$root/$partCol=$value", value))
  }

  /** Version-directory names every kept snapshot references for one
    * partition value (empty when the root has no snapshots), expanded
    * through merge-on-read base chains: a MOR version dir is only
    * readable while its base chain survives, so protecting the dir a
    * snapshot names must protect everything it layers on. */
  private def snapshotProtected(spark: SparkSession, root: String,
      partRoot: String, value: String): Set[String] =
    expandMorProtect(spark, partRoot,
      snapshots(spark, root)
        .flatMap(sn => snapshotMapping(spark, root, sn))
        .collect { case (v, d) if v == value => d }.toSet)

  /** The partition values present under `root`, from the directory
    * names (partition-count-bounded listing). */
  def partitionValues(spark: SparkSession, root: String,
      partCol: String): Seq[String] = {
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new HPath(root))
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName.stripPrefix(s"$partCol="))
      .sorted.toSeq
  }

  /** Cross-session reader: resolve every partition's pointer ONCE, then
    * serve that resolved mapping through a content-PINNED catalog table
    * (see [[serveThroughPin]]) — ONE partitioned relation node with
    * real PartitionFilters pruning at any partition count, where the
    * historical N-branch union planned a scan node per partition (pure
    * planning cost linear in partition count on every query).
    * Per-partition atomicity is unchanged: each resolved dir is a
    * complete old or new version, never a mixture, and the pin is
    * immutable — a DataFrame captured before a later publish keeps
    * reading ITS resolved versions (the same keep-N reader horizon as
    * the version dirs themselves). */
  def read(spark: SparkSession, root: String, partCol: String,
      partType: String): DataFrame = {
    val parts = partitionValues(spark, root, partCol)
    require(parts.nonEmpty, s"PartitionedManifest: no $partCol=* under $root")
    val dirs = parts.map { v =>
      v -> ManifestTable.currentDataDir(s"$root/$partCol=$v")
        .getOrElse(sys.error(
          s"PartitionedManifest: no MANIFEST under $root/$partCol=$v"))
    }
    // the live pointers' schema authority is the CURRENT snapshot's
    // recorded schema (evolution adds columns old version dirs lack —
    // the pinned relation reads them as NULL; a metadata-only drop
    // projects the column away without touching a byte)
    val schema = currentSnapshot(spark, root)
      .flatMap(sn => snapshotSchema(spark, root, sn))
    serveResolved(spark, root, partCol, partType, dirs, schema)
  }

  /** Serve a resolved mapping, routing merge-on-read partitions through
    * [[resolveVersionData]] and everything else through the content-
    * pinned catalog relation: the common all-pure case keeps its ONE
    * plan node; MOR partitions (bounded by compaction cadence) each
    * compose base ∪ delta and union on top. */
  private def serveResolved(spark: SparkSession, root: String,
      partCol: String, partType: String, dirs: Seq[(String, String)],
      schema: Option[StructType]): DataFrame = {
    val (mor, pure) = dirs.partition { case (_, p) => isMorDir(spark, p) }
    val pureDf =
      if (pure.isEmpty) None
      else Some(serveThroughPin(spark, root, partCol, partType, pure,
        schema))
    // K hot MOR partitions serve through ONE grouped resolution whose
    // plan width scales with chain depth, never K (resolveMorGrouped)
    val morDf =
      if (mor.isEmpty) None
      else Some(resolveMorGrouped(spark,
          mor.map { case (_, path) =>
            val slash = path.lastIndexOf('/')
            (path.substring(0, slash), path.substring(slash + 1))
          }, Seq(partCol), schema)
        .withColumn(partCol, col(partCol).cast(partType)))
    (pureDf.toSeq ++ morDf.toSeq).reduce(_.unionByName(_))
  }

  private def hash8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)

  /** Pin names are content hashes of (mapping, schema): the SAME dirs
    * under an evolved schema (a metadata-only dropColumn) must serve
    * through a DIFFERENT pin, or the stale relation's columns would
    * survive the evolution. Schema-less (legacy) pins keep their
    * pre-evolution names. */
  private def pinTableName(root: String, dirs: Seq[(String, String)],
      schema: Option[StructType] = None): String =
    s"graft_pm_${hash8(root)}_" +
      hash8(dirs.sortBy(_._1).map { case (v, d) => s"$v\t$d" }.mkString("\n")
        + schema.map(s => "\n#schema=" + s.json).getOrElse(""))

  /** Serve a RESOLVED (partition value → absolute version dir) mapping
    * through one partitioned catalog relation whose name is a CONTENT
    * HASH of the mapping:
    *
    *   - any partition count plans ONE relation node with real
    *     PartitionFilters pruning (plan-asserted) — the fresh-engine
    *     path no longer pays an N-branch union;
    *   - re-reading the same mapping reuses the registration, so the
    *     steady-state read is zero catalog writes;
    *   - the pin is immutable: a lazy DataFrame captured before a later
    *     publish keeps reading exactly the versions it resolved (two
    *     concurrently-held snapshots never fight over one table).
    *
    * Pins whose mapping is no longer the live one nor any kept
    * snapshot's are dropped when a NEW pin registers — catalog
    * metadata obeys the same keep-N reader horizon as the version
    * directories themselves. */
  private def serveThroughPin(spark: SparkSession, root: String,
      partCol: String, partType: String, dirs: Seq[(String, String)],
      schema: Option[StructType] = None): DataFrame = {
    val table = pinTableName(root, dirs, schema)
    if (!spark.catalog.tableExists(table)) {
      syncCatalogDirs(spark, root, table, partCol, partType, dirs, schema)
      gcStalePins(spark, root, partCol, keep = Set(table))
    }
    // a reused pin from an earlier session still needs the session-local
    // optimizer rule for automatic file skipping
    graft.plans.ZoneMaps.install(spark)
    spark.table(table)
  }

  /** Drop this root's pin tables that serve neither the live pointers
    * nor any kept snapshot (bounded: keep-N + 1 valid pins per shape).
    * A mapping with merge-on-read partitions serves its PURE SUBSET
    * through the pin (the MOR partitions compose on top), so both the
    * full-mapping pin and the pure-subset pin count as valid. */
  private def gcStalePins(spark: SparkSession, root: String,
      partCol: String, keep: Set[String] = Set.empty): Unit = {
    val prefix = s"graft_pm_${hash8(root)}_"
    def pinsFor(dirs: Seq[(String, String)],
        schema: Option[StructType]): Seq[String] = {
      val pure = dirs.filterNot { case (_, p) => isMorDir(spark, p) }
      (Seq(pinTableName(root, dirs, schema)) ++
        (if (pure != dirs && pure.nonEmpty)
          Seq(pinTableName(root, pure, schema)) else Nil)).distinct
    }
    val curSchema = currentSnapshot(spark, root)
      .flatMap(sn => snapshotSchema(spark, root, sn))
    val livePins =
      try {
        val dirs = partitionValues(spark, root, partCol).flatMap { v =>
          ManifestTable.currentDataDir(s"$root/$partCol=$v").map(v -> _)
        }
        if (dirs.isEmpty) Nil else pinsFor(dirs, curSchema)
      } catch { case scala.util.control.NonFatal(_) => Nil }
    val snapPins = snapshots(spark, root).flatMap { sn =>
      pinsFor(snapshotMapping(spark, root, sn)
        .map { case (v, d) => v -> s"$root/$partCol=$v/$d" },
        snapshotSchema(spark, root, sn))
    }
    val valid = (livePins ++ snapPins).toSet ++ keep
    val db = spark.catalog.currentDatabase
    spark.sharedState.externalCatalog.listTables(db)
      .filter(t => t.startsWith(prefix) && !valid.contains(t))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  /** In-session serving through the CATALOG: an external partitioned
    * table whose per-partition LOCATIONs point at the current version
    * directories. Publishing flips a partition with one `ALTER TABLE …
    * SET LOCATION` — a single catalog operation, so in-session readers
    * get the same per-partition old-or-new guarantee as the pointer
    * file gives cross-session readers — and the table plans as ONE
    * partitioned relation: real PartitionFilters pruning, no N-branch
    * union (the view path costs a scan node per partition, which is
    * planning overhead linear in partition count on every query). */
  def syncCatalogTable(spark: SparkSession, root: String, table: String,
      partCol: String, partType: String): Unit = {
    val parts = partitionValues(spark, root, partCol)
    require(parts.nonEmpty, s"PartitionedManifest: no $partCol=* under $root")
    val dirs = parts.map { v =>
      v -> ManifestTable.currentDataDir(s"$root/$partCol=$v")
        .getOrElse(sys.error(
          s"PartitionedManifest: no MANIFEST under $root/$partCol=$v"))
    }
    val schema = currentSnapshot(spark, root)
      .flatMap(sn => snapshotSchema(spark, root, sn))
    syncCatalogDirs(spark, root, table, partCol, partType, dirs, schema)
  }

  /** Pin a catalog table to a NAMED snapshot: every partition LOCATION
    * comes from the snapshot mapping, not the live per-partition
    * pointers — so a HISTORICAL commit serves through the same single
    * partitioned relation (one plan, real PartitionFilters pruning,
    * plan-asserted in PlanAuditSpec) as current-state serving, instead
    * of the N-branch union the fresh-engine reader pays. Defaults to
    * the current snapshot. */
  def syncCatalogTableSnapshot(spark: SparkSession, root: String,
      table: String, partCol: String, partType: String,
      snapshot: Option[String] = None): Unit = {
    val snap = snapshot.orElse(currentSnapshot(spark, root)).getOrElse(
      sys.error(s"PartitionedManifest: no snapshot committed under $root"))
    val mapping = snapshotMapping(spark, root, snap)
    require(mapping.nonEmpty, s"empty snapshot $snap")
    val dirs = mapping.map { case (v, d) => v -> s"$root/$partCol=$v/$d" }
    syncCatalogDirs(spark, root, table, partCol, partType, dirs,
      snapshotSchema(spark, root, snap))
  }

  private def syncCatalogDirs(spark: SparkSession, root: String,
      table: String, partCol: String, partType: String,
      dirs: Seq[(String, String)],
      schema: Option[StructType] = None): Unit = {
    // a catalog partition LOCATION serves raw parquet — a merge-on-read
    // version dir is NOT its partition's content (the delta files would
    // read as the whole partition). Fail LOUDLY; compact() folds a MOR
    // partition back to a pure dir that can serve through a location.
    dirs.foreach { case (v, d) =>
      require(!isMorDir(spark, d),
        s"PartitionedManifest: partition $v is merge-on-read at $d - " +
          "catalog locations cannot serve MOR content; compact() first " +
          "(read()/readSnapshot() resolve MOR transparently)")
    }
    // a recorded (possibly evolved) schema is the relation's authority:
    // version dirs written before an added column serve it as NULL, a
    // dropped column is projected away. A NAMED table whose catalog
    // columns no longer match is recreated (catalog-only; its
    // partitions re-register through the diff below).
    val dataSchema = schema.getOrElse(
      footerSchema(spark, dirs.head._2))
    if (spark.catalog.tableExists(table)) {
      val existingCols = spark.table(table).schema
        .filterNot(_.name == partCol)
        .map(f => (f.name, f.dataType))
      if (existingCols != dataSchema.map(f => (f.name, f.dataType)))
        spark.sql(s"DROP TABLE `$table`")
    }
    if (!spark.catalog.tableExists(table)) {
      val cols = dataSchema.map(f => s"`${f.name}` ${f.dataType.sql}")
        .mkString(", ")
      // graft.zonemaps: ZoneMapRule wraps this relation's file index so
      // range queries consult the version dirs' _filestats.tsv sidecars
      // automatically (file skipping on the DEFAULT read path)
      spark.sql(s"CREATE TABLE `$table` ($cols, `$partCol` $partType) " +
        s"USING parquet PARTITIONED BY (`$partCol`) LOCATION '$root' " +
        s"TBLPROPERTIES ('${graft.plans.ZoneMaps.Prop}'='true')")
    }
    graft.plans.ZoneMaps.install(spark)
    // steady-state sync is catalog-diff-driven: one batched ADD for new
    // partitions, a SET LOCATION only where the pointer moved, and a
    // batched DROP for partitions the target mapping does NOT contain —
    // without the drop, a table re-pinned to an OLDER snapshot would
    // keep serving partitions that did not exist at that commit
    val existing: Map[String, String] = spark.sharedState.externalCatalog
      .listPartitions(spark.catalog.currentDatabase, table)
      .map(p => p.spec(partCol) -> p.location.toString).toMap
    def norm(s: String) = s.stripPrefix("file:").stripSuffix("/")
    val wanted = dirs.map(_._1).toSet
    val extra = existing.keys.filterNot(wanted).toSeq.sorted
    if (extra.nonEmpty)
      // DROP takes COMMA-separated partition specs (ADD takes
      // space-separated spec LOCATION pairs — asymmetric grammar; a
      // space-joined multi-spec DROP is a ParseException)
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
        extra.map(v =>
          s"PARTITION (`$partCol`='${checkPartValue(v)}')").mkString(", "))
    val added = dirs.filterNot { case (v, _) => existing.contains(v) }
    if (added.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` ADD IF NOT EXISTS " +
        added.map { case (v, dir) =>
          s"PARTITION (`$partCol`='${checkPartValue(v)}') LOCATION '$dir'"
        }.mkString(" "))
    dirs.foreach { case (v, dir) =>
      if (existing.get(v).exists(loc => norm(loc) != norm(dir)))
        spark.sql(s"ALTER TABLE `$table` " +
          s"PARTITION (`$partCol`='${checkPartValue(v)}') " +
          s"SET LOCATION '$dir'")
    }
    spark.sql(s"REFRESH TABLE `$table`")
  }

  // ---------------------------------------------------------------------
  // SNAPSHOT commits: [[SnapshotLog]] over keys at `root/<partCol>=<v>`.

  protected def logName = "PartitionedManifest"
  protected def keysNoun = "partitions"

  private def partLeaf(partCol: String): String => String =
    v => s"$partCol=$v"

  /** Commit to a BRANCH ([[SnapshotLog]]'s write-audit-publish):
    * version directories are STAGED (partition pointers never move —
    * live readers cannot see branch data), and only the branch pointer
    * advances; audit via `readSnapshot(resolveRef(branch))`. Branch
    * commits may touch EXISTING partitions only; additive schema
    * evolution applies against the branch head's recorded schema. */
  def commitSnapshotToBranch(spark: SparkSession, root: String,
      partCol: String, updates: Map[String, DataFrame], branch: String,
      keepSnapshots: Int = 2): String = {
    updates.keys.foreach(checkPartValue)
    commitToBranch(spark, root, branch, updates.keys.toSeq, keepSnapshots,
      partLeaf(partCol),
      updates.headOption.map { case (_, df) =>
        StructType(df.schema.filterNot(_.name == partCol)) },
      () => writeScratchParts(spark, root, partCol, updates),
      v => dropCol(updates(v), partCol))
  }

  /** PUBLISH a branch: fast-forward main to its head in one metadata
    * operation (see [[SnapshotLog]]). */
  def fastForward(spark: SparkSession, root: String, partCol: String,
      branch: String): String =
    fastForwardBranch(spark, root, branch, partLeaf(partCol))

  /** ROLLBACK to a kept snapshot or tag as a NEW forward commit,
    * metadata-only (see [[SnapshotLog]]). Partitions CREATED after the
    * target fail it loudly: snapshot readers would never see them but
    * the live per-partition `read()` path would — drop them first. */
  def rollback(spark: SparkSession, root: String, partCol: String,
      toSnap: String, keepSnapshots: Int = 2): String =
    rollbackTo(spark, root, toSnap, keepSnapshots, partLeaf(partCol),
      () => partitionValues(spark, root, partCol))

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
      val schema = snapshotSchema(spark, root, snap).getOrElse {
        val (v, d) = mapping.head
        footerSchema(spark, s"$root/$partCol=$v/$d")
      }
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
    * snapshots (either end may be a tag name). The diff is
    * METADATA-FIRST: a partition contributes rows only when its version
    * DIRECTORY differs between the two commits — an untouched partition
    * is never listed, planned, or read, so the cost scales with the
    * delta's partition footprint, not the table (the Iceberg
    * incremental-scan contract; at 100 TB a reader of a 0.1% delta
    * touches 0.1% of the table). Within changed partitions the multiset
    * row diff is emitted with `changeCol` ∈ {'insert','delete'} (an
    * updated row appears as its delete + its insert — the Delta CDF
    * shape without stored change files: CDC here is DERIVED from the
    * immutable version directories, costing ingest nothing).
    *
    * Each side's changed directories are read as ONE relation (no
    * per-partition union branch); the partition value is recovered from
    * the directory path. The row diff is `exceptAll` both ways — two
    * hash exchanges over only the changed partitions' rows. */
  def changesBetween(spark: SparkSession, root: String, partCol: String,
      partType: String, fromRef: String, toRef: String,
      changeCol: String = "_change_type"): DataFrame = {
    val fromSnap = resolveRef(spark, root, Some(fromRef)).get
    val toSnap = resolveRef(spark, root, Some(toRef)).get
    val from = snapshotMapping(spark, root, fromSnap).toMap
    val to = snapshotMapping(spark, root, toSnap).toMap
    val changed = (from.keySet ++ to.keySet)
      .filter(v => from.get(v) != to.get(v)).toSeq.sorted
    // each side resolves through its own snapshot's recorded schema;
    // merge-on-read dirs compose per partition (delta-scoped), pure
    // dirs keep the one-relation read
    def side(m: Map[String, String], snap: String): Option[DataFrame] = {
      val schema = snapshotSchema(spark, root, snap)
      val entries = changed.flatMap(v => m.get(v).map(v -> _))
      if (entries.isEmpty) None
      else {
        val (mor, pure) = entries.partition { case (v, d) =>
          isMorDir(spark, s"$root/$partCol=$v/$d") }
        val pureDf =
          if (pure.isEmpty) None
          else Some(readDirsWithPartCol(spark,
            pure.map { case (v, d) => s"$root/$partCol=$v/$d" },
            partCol, partType, schema))
        val morDf =
          if (mor.isEmpty) None
          else Some(resolveMorGrouped(spark,
              mor.map { case (v, d) => (s"$root/$partCol=$v", d) },
              Seq(partCol), schema)
            .withColumn(partCol, col(partCol).cast(partType)))
        Some((pureDf.toSeq ++ morDf.toSeq).reduce(_.unionByName(_)))
      }
    }
    (side(from, fromSnap), side(to, toSnap)) match {
      case (None, None) =>
        // no changed partitions: empty result with the table's schema
        readSnapshot(spark, root, partCol, partType, Some(toSnap))
          .limit(0).withColumn(changeCol, lit(""))
      case (f, t) =>
        val fDf0 = f.orElse(t.map(_.limit(0))).get
        val tDf0 = t.orElse(f.map(_.limit(0))).get
        // schema evolution between the endpoints: align BOTH sides to
        // the TO snapshot's schema (Delta CDF's additive-evolution
        // shape) — a column added between the commits reads as NULL on
        // the from side; a column gone from the to side is projected
        // away. A metadata-only dropColumn never even reaches here (its
        // version dirs are identical). Type changes stay a loud error.
        val toSchema: StructType = snapshotSchema(spark, root, toSnap)
          .map(s => StructType(s.fields :+
            StructField(partCol, tDf0.schema(partCol).dataType)))
          .getOrElse(tDf0.schema)
        def align(df: DataFrame): DataFrame =
          df.select(toSchema.fields.toSeq.map { fld =>
            if (df.columns.contains(fld.name)) {
              val dt = df.schema(fld.name).dataType
              require(dt == fld.dataType,
                s"changesBetween: column '${fld.name}' changes type " +
                  s"between snapshots (${dt.simpleString} vs " +
                  s"${fld.dataType.simpleString}) - type changes are " +
                  "not diffable")
              col(fld.name)
            } else lit(null).cast(fld.dataType).as(fld.name)
          }: _*)
        val fDf = align(fDf0)
        val tDf = align(tDf0)
        multisetDiff(tDf, fDf, changeCol)
    }
  }

  // ---------------------------------------------------------------------
  // MERGE-ON-READ: the write mode copy-on-write cannot afford at 100 TB
  // with hot partitions — a stream of small upsert batches into a 1 TB
  // partition must NOT rewrite the terabyte per batch (write
  // amplification = partition size / batch size). A MOR commit writes a
  // new version directory holding ONLY the delta:
  //
  //   v000007-xxxx/
  //     _mor.tsv            #keys=k1,k2 / base=v000006-yyyy
  //     _delta/upserts/     (parquet: full-schema replacement rows)
  //     _delta/deletes/     (parquet: key columns of removed rows)
  //
  // `base` names the PREVIOUS version directory — itself possibly MOR,
  // so deltas chain (the Iceberg v2 delete-file / Delta deletion-vector
  // posture realized on the pointer machinery: bytes written per commit
  // scale with the DELTA, never the partition). Readers resolve the
  // chain lazily: base rows whose key appears in any layer are dropped
  // with ONE anti-join against the (delta-sized, broadcastable) key set,
  // and each key's NEWEST layer event wins — an upsert contributes its
  // replacement row, a delete contributes nothing. Every existing
  // reader path (read/readSnapshot, changesBetween/CDC, the streaming
  // CdcSource, IncrementalConsumer) resolves MOR dirs transparently.
  //
  // COMPACTION IS THE FOLD-DOWN: compact() selects MOR-live partitions
  // unconditionally (a delta chain IS deferred merge work), rewrites the
  // RESOLVED content, and publishes a pure data dir — converging the
  // layout; chain length is therefore bounded by compaction cadence.
  // GC safety: every protection set is expanded through _mor.tsv base
  // chains, so a base dir can never be collected while a kept snapshot
  // (or the live pointer) names a layer above it.

  private[engine] val MorFile = "_mor.tsv"

  private[engine] def isMorDir(spark: SparkSession, dirPath: String): Boolean =
    fsOf(spark, dirPath).exists(new HPath(dirPath, MorFile))

  /** Parse a MOR marker: (key columns, base version dir NAME). */
  private def morInfo(spark: SparkSession, dirPath: String)
      : Option[(Seq[String], String)] = {
    val fs = fsOf(spark, dirPath)
    val p = new HPath(dirPath, MorFile)
    if (!fs.exists(p)) None
    else {
      val text = SnapshotLog.readUtf8(fs, p)
      val keys = text.linesIterator.find(_.startsWith("#keys="))
        .map(_.stripPrefix("#keys=").trim.split(",").toSeq)
        .getOrElse(sys.error(s"PartitionedManifest: $dirPath/$MorFile " +
          "has no #keys= header"))
      val base = text.linesIterator.find(_.startsWith("base="))
        .map(_.stripPrefix("base=").trim)
        .getOrElse(sys.error(s"PartitionedManifest: $dirPath/$MorFile " +
          "has no base= line"))
      Some((keys, base))
    }
  }

  /** A version dir plus its transitive MOR bases, newest first (the
    * head is `dir` itself; a pure dir is a one-element chain). Cycle
    * and runaway guarded. */
  private[engine] def morChain(spark: SparkSession, partRoot: String,
      dir: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer(dir)
    var info = morInfo(spark, s"$partRoot/$dir")
    while (info.isDefined) {
      val next = info.get._2
      require(!out.contains(next) && out.length < 100000,
        s"PartitionedManifest: MOR base cycle under $partRoot: $out")
      out += next
      info = morInfo(spark, s"$partRoot/$next")
    }
    out.toSeq
  }

  /** The key columns of a version dir's delta chain (None = pure).
    * Chains are keyed UNIFORMLY by construction — [[commitMerge]]
    * refuses to layer a differently-keyed delta, because resolution
    * applies the TOP layer's keys to every layer. */
  private[engine] def chainKeys(spark: SparkSession, partRoot: String,
      dirName: String): Option[Seq[String]] =
    morInfo(spark, s"$partRoot/$dirName").map(_._1)

  /** Expand a protection set through MOR base chains (see the section
    * comment: protecting a layer must protect everything below it). */
  private[engine] def expandMorProtect(spark: SparkSession, partRoot: String,
      dirs: Set[String]): Set[String] =
    dirs.flatMap(d => morChain(spark, partRoot, d))

  /** One partition's LOGICAL content (no partition column) at version
    * `dirName`: a pure dir reads directly; a MOR dir resolves base ∪
    * layers — base rows whose key appears in ANY layer are dropped by
    * one anti-join against the delta-sized key set (broadcast at scale),
    * then each key's newest layer event contributes its upsert row (a
    * newest-event delete contributes nothing). `schema` (the snapshot's
    * recorded schema) is the read authority when given. */
  private[engine] def resolveVersionData(spark: SparkSession,
      partRoot: String, dirName: String,
      schema: Option[StructType]): DataFrame = {
    def readPure(d: String, sc: Option[StructType]): DataFrame =
      sc.map(s => spark.read.schema(s).parquet(s"$partRoot/$d"))
        .getOrElse(spark.read.parquet(s"$partRoot/$d"))
    morInfo(spark, s"$partRoot/$dirName") match {
      case None => readPure(dirName, schema)
      case Some((keys, _)) =>
        val chain = morChain(spark, partRoot, dirName)
        val baseDir = chain.last
        val layers = chain.init.reverse // oldest layer first
        val fs = fsOf(spark, partRoot)
        val dataSchema: StructType = schema.getOrElse(
          footerSchema(spark, s"$partRoot/$baseDir"))
        val base = readPure(baseDir, Some(dataSchema))
        val events: Seq[DataFrame] = layers.zipWithIndex.flatMap {
          case (d, i) =>
            val up = {
              val p = s"$partRoot/$d/_delta/upserts"
              if (fs.exists(new HPath(p)))
                Some(spark.read.schema(dataSchema).parquet(p)
                  .withColumn("_graft_op", lit("u"))
                  .withColumn("_graft_layer", lit(i + 1)))
              else None
            }
            val del = {
              val p = s"$partRoot/$d/_delta/deletes"
              if (fs.exists(new HPath(p))) {
                // delete dirs live inside immutable version dirs —
                // their footer schema memoizes like any other
                val keyDf = spark.read.schema(footerSchema(spark, p))
                  .parquet(p)
                Some(keyDf.select(dataSchema.fields.toSeq.map { f =>
                  if (keys.contains(f.name))
                    col(f.name).cast(f.dataType).as(f.name)
                  else lit(null).cast(f.dataType).as(f.name)
                }: _*).withColumn("_graft_op", lit("d"))
                  .withColumn("_graft_layer", lit(i + 1)))
              } else None
            }
            up.toSeq ++ del.toSeq
        }
        if (events.isEmpty) base
        else {
          val all = events.reduce(_.unionByName(_))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*)
            .orderBy(col("_graft_layer").desc)
          val latest = all
            .withColumn("_graft_rn",
              org.apache.spark.sql.functions.row_number().over(w))
            .filter(col("_graft_rn") === 1)
          base.join(all.select(keys.map(col): _*).distinct(),
              keys, "left_anti")
            .unionByName(latest.filter(col("_graft_op") === "u")
              .drop("_graft_op", "_graft_layer", "_graft_rn"))
        }
    }
  }

  /** Both directions of a multiset row diff in ONE aggregation —
    * row-for-row what `to.exceptAll(from)` tagged 'insert' unioned
    * with `from.exceptAll(to)` tagged 'delete' produces. Spark's own
    * RewriteExceptAll turns EACH exceptAll into union → signed-count
    * aggregate → replicate, so the two-direction spelling aggregates
    * the combined input twice; tagging the sides ±1 and keeping both
    * signs runs that same rewrite once (one exchange instead of two
    * over the changed partitions' rows). Multiset-exact: a row with
    * m copies on the to side and n on the from side emits |m-n|
    * copies, inserts where m>n, deletes where n>m — the exceptAll
    * multiplicity contract. Replication streams through the
    * [[graft.functions.ReplicateN]] generator — an
    * `explode(sequence(1, |w|))` would materialize a |w|-element array
    * inside the task, a multi-MB allocation (and OOM risk) for a row
    * legitimately duplicated millions of times. */
  private[engine] def multisetDiff(to: DataFrame, from: DataFrame,
      changeCol: String): DataFrame = {
    val W = "_graft_w"
    val cols = to.columns.toSeq
    val summed = to.withColumn(W, lit(1L))
      .unionByName(from.withColumn(W, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(org.apache.spark.sql.functions.sum(col(W)).as(W))
      .filter(col(W) =!= 0L)
    summed.select((cols :+ W).map(col) :+
        graft.functions.Replicate.replicateN(
          org.apache.spark.sql.functions.abs(col(W))): _*)
      .select(cols.map(col) :+
        org.apache.spark.sql.functions.when(col(W) > 0, lit("insert"))
          .otherwise(lit("delete")).as(changeCol): _*)
  }

  /** Recover hive-style `field=value` path segments as STRING columns
    * appended after the data columns, via the deterministic hidden
    * file-metadata column (the multi-field generalization of
    * [[readDirsWithPartCol]]'s trick). */
  private[engine] def attachFieldsFromPath(df: DataFrame,
      fields: Seq[String]): DataFrame = {
    val dataCols = df.columns.toSeq
    val withF = fields.foldLeft(df)((x, f) =>
      x.withColumn(f, regexp_extract(col("_metadata.file_path"),
        java.util.regex.Pattern.quote(s"/$f=") + "([^/]+)/", 1)))
    withF.select((dataCols.map(col) ++ fields.map(col)): _*)
  }

  /** Read a set of (pure) version dirs as ONE relation with hive path
    * fields recovered as string columns. */
  private[engine] def readDirsWithFields(spark: SparkSession,
      paths: Seq[String], fields: Seq[String],
      schema: Option[StructType] = None): DataFrame =
    attachFieldsFromPath(
      schema.map(sc => spark.read.schema(sc).parquet(paths: _*))
        .getOrElse(spark.read.parquet(paths: _*)), fields)

  /** Resolve MANY merge-on-read chains in ONE bounded-width plan — the
    * serving path for a CDC-heavy table with K hot partitions/leaves
    * between folds. The per-chain resolver ([[resolveVersionData]])
    * plans one subtree per chain: K hot leaves cost K union arms, the
    * exact per-partition plan-width problem the content-pin work
    * eliminated for pure dirs. Here the arms scale with CHAIN DEPTH,
    * never K:
    *
    *   - every chain's BOTTOM (pure) dir reads as ONE relation, with
    *     the hive partition fields recovered from the file paths;
    *   - every chain's layer at depth d reads as ONE upsert relation +
    *     ONE delete relation (depth is bounded by foldChainAt/compact
    *     cadence, typically ≤ 3);
    *   - resolution runs GLOBALLY, keyed on (partition fields ++ key
    *     columns): one anti-join of the combined base against the
    *     combined (delta-sized, broadcastable) key set, one
    *     newest-layer-wins window over the DELTA union only — the same
    *     per-key semantics as the per-chain resolver, because the
    *     partition fields keep different leaves' keys apart and layer
    *     numbering is per-chain.
    *
    * `entries` are (partition/leaf root, live MOR version dir name);
    * `fields` the hive field names (in path order) to recover as
    * STRING partition columns. Chains with different key-column sets
    * group separately (arms = depth × distinct key sets). Output:
    * data columns ++ fields. */
  private[engine] def resolveMorGrouped(spark: SparkSession,
      entries: Seq[(String, String)], fields: Seq[String],
      schema: Option[StructType]): DataFrame = {
    require(entries.nonEmpty, "resolveMorGrouped: no entries")
    val fs = fsOf(spark, entries.head._1)
    val infos = entries.map { case (pr, d) =>
      val keys = morInfo(spark, s"$pr/$d").map(_._1).getOrElse(
        sys.error(s"resolveMorGrouped: $pr/$d is not merge-on-read"))
      (pr, morChain(spark, pr, d), keys)
    }
    def attach(df: DataFrame): DataFrame =
      attachFieldsFromPath(df, fields)
    infos.groupBy(_._3).toSeq.sortBy(_._1.mkString(","))
      .map { case (keys, group) =>
        val dataSchema: StructType = schema.getOrElse {
          val (pr, chain, _) = group.head
          footerSchema(spark, s"$pr/${chain.last}")
        }
        val base = attach(spark.read.schema(dataSchema).parquet(
          group.map { case (pr, chain, _) => s"$pr/${chain.last}" }: _*))
        val maxDepth = group.map(_._2.length - 1).max
        val events: Seq[DataFrame] = (1 to maxDepth).flatMap { d =>
          // depth d = the d-th layer ABOVE the base, oldest first
          // (chain is newest-first: layer d = chain(len - 1 - d))
          val layerDirs = group.collect {
            case (pr, chain, _) if chain.length - 1 >= d =>
              s"$pr/${chain(chain.length - 1 - d)}"
          }
          val ups = layerDirs.map(_ + "/_delta/upserts")
            .filter(p => fs.exists(new HPath(p)))
          val dels = layerDirs.map(_ + "/_delta/deletes")
            .filter(p => fs.exists(new HPath(p)))
          val u =
            if (ups.isEmpty) None
            else Some(attach(spark.read.schema(dataSchema)
                .parquet(ups: _*))
              .withColumn("_graft_op", lit("u"))
              .withColumn("_graft_layer", lit(d)))
          val dl =
            if (dels.isEmpty) None
            else {
              val keyDf = attach(spark.read.parquet(dels: _*))
              Some(keyDf.select((dataSchema.fields.toSeq.map { f =>
                if (keys.contains(f.name))
                  col(f.name).cast(f.dataType).as(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              } ++ fields.map(col)): _*)
                .withColumn("_graft_op", lit("d"))
                .withColumn("_graft_layer", lit(d)))
            }
          u.toSeq ++ dl.toSeq
        }
        if (events.isEmpty) base
        else {
          val all = events.reduce(_.unionByName(_))
          val grpKeys = fields ++ keys
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(grpKeys.map(col): _*)
            .orderBy(col("_graft_layer").desc)
          val latest = all
            .withColumn("_graft_rn", row_number().over(w))
            .filter(col("_graft_rn") === 1)
          // re-select the base order: a using-columns join moves the
          // join keys to the FRONT of the output
          base.join(all.select(grpKeys.map(col): _*).distinct(),
              grpKeys, "left_anti")
            .select(base.columns.toSeq.map(col): _*)
            .unionByName(latest.filter(col("_graft_op") === "u")
              .drop("_graft_op", "_graft_layer", "_graft_rn"))
        }
      }.reduce(_.unionByName(_))
  }

  /** One partition's current logical content (no partition column) —
    * MOR-resolving; the public single-partition reader the streaming
    * sink and merge paths use instead of a raw parquet read of the
    * live version dir (which would be empty on a MOR-live partition). */
  def readPartition(spark: SparkSession, root: String, partCol: String,
      value: String, schema: Option[StructType] = None): DataFrame = {
    val pr = s"$root/$partCol=${checkPartValue(value)}"
    val dir = ManifestTable.currentVersion(pr).getOrElse(
      sys.error(s"PartitionedManifest: no MANIFEST under $pr"))
    val sc = schema.orElse(currentSnapshot(spark, root)
      .flatMap(sn => snapshotSchema(spark, root, sn)))
    resolveVersionData(spark, pr, dir, sc)
  }

  /** MERGE-ON-READ commit: fold `upserts` (full-schema replacement rows,
    * keyed by `keyCols`) and `deletes` (key rows) into the touched
    * partitions WITHOUT rewriting them — each touched partition gets a
    * new version dir holding only the delta files and a `_mor.tsv`
    * naming its base (see the section comment). One atomic snapshot
    * commit covers the whole delta, so CDC, time travel, tags, branches
    * and the incremental consumer see a MOR commit exactly like any
    * other. Bytes written scale with the DELTA (w20 require()s it).
    *
    * Contract: the table must be snapshot-managed; touched partitions
    * must exist (partition creation is a [[commitSnapshot]] job);
    * upsert frames carry exactly the recorded schema (evolution goes
    * through commitSnapshot); per partition, upsert keys and delete
    * keys must be disjoint, and upsert keys unique (the Delta MERGE
    * multiple-match contract — violations make the resolved content
    * order-dependent). Returns the snapshot name.
    *
    * `foldChainAt` (> 0) BOUNDS the delta chain without a separate
    * maintenance pass: a merge that would make a partition's chain
    * that deep publishes the RESOLVED content as a pure data dir
    * instead of another layer — the partition's bytes are paid once
    * per `foldChainAt` merges (amortized 1/foldChainAt per commit)
    * and every reader's chain walk stays ≤ foldChainAt. 0 leaves the
    * bound to compaction cadence (compact() folds unconditionally).
    *
    * CONCURRENCY (the compact() posture): the delta parquet is staged
    * with NO lock held — at high commit frequency concurrent merge
    * committers overlap their I/O and serialize only on the cheap
    * metadata tail. Under the lock each touched partition re-reads its
    * FRESH live version as the chain base (the delta files never
    * depend on it), so a committer that landed mid-staging simply
    * becomes one more layer below — both commits land, newest layer
    * still wins per key. The recorded schema is re-validated under the
    * lock; a concurrent schema evolution fails the merge loudly.
    *
    * @param onBeforeLock test seam, called after the lock-free staging
    *        completes and BEFORE the publish lock is taken — the race
    *        window a concurrent committer can land in */
  def commitMerge(spark: SparkSession, root: String, partCol: String,
      keyCols: Seq[String], upserts: Map[String, DataFrame] = Map.empty,
      deletes: Map[String, DataFrame] = Map.empty,
      keepSnapshots: Int = 2, foldChainAt: Int = 0,
      onBeforeLock: () => Unit = () => ()): String = {
    require(keepSnapshots >= 2, "keepSnapshots must be >= 2")
    require(keyCols.nonEmpty && !keyCols.contains(partCol),
      "commitMerge: keyCols must be non-empty data columns")
    val touched = (upserts.keySet ++ deletes.keySet).toSeq.sorted
    require(touched.nonEmpty, "commitMerge needs upserts or deletes")
    touched.foreach(checkPartValue)
    val fs = fsOf(spark, root)
    // ---- LOCK-FREE phase: validate against an optimistic read of the
    // current snapshot and stage every partition's delta parquet ----
    val snap0 = currentSnapshot(spark, root).getOrElse(sys.error(
      "PartitionedManifest: commitMerge needs a snapshot-managed " +
        s"table under $root - commitSnapshot first"))
    val base0 = snapshotMapping(spark, root, snap0).toMap
    val unknown0 = touched.filterNot(base0.contains)
    require(unknown0.isEmpty,
      "PartitionedManifest: merge-on-read may only touch existing " +
        s"partitions (new: ${unknown0.mkString(",")}) - create " +
        "partitions through commitSnapshot")
    val schema = snapshotSchema(spark, root, snap0).getOrElse {
      val (v, d) = base0.head
      footerSchema(spark, s"$root/$partCol=$v/$d")
    }
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"commitMerge: unknown key column '$k'"))
    upserts.foreach { case (v, df) =>
      val cols = df.schema.filterNot(_.name == partCol)
        .map(f => (f.name, f.dataType))
      require(cols == schema.map(f => (f.name, f.dataType)).toSeq,
        s"commitMerge: partition $v upsert schema " +
          s"(${cols.map(_._1).mkString(",")}) does not match the " +
          s"recorded schema (${schema.fieldNames.mkString(",")}) - " +
          "schema evolution goes through commitSnapshot")
    }
    deletes.foreach { case (v, df) =>
      val cols = df.columns.toSeq.filterNot(_ == partCol).sorted
      require(cols == keyCols.sorted,
        s"commitMerge: partition $v delete frame must carry exactly " +
          s"the key columns ${keyCols.mkString(",")} (got " +
          s"${cols.mkString(",")})")
    }
    // (upserts, deletes, staged delta dir) per partition. Staging
    // writes collapse into ONE job for every partition's upserts and
    // one for all deletes (per-partition frames tagged with the
    // partition ordinal, unioned, `partitionBy` the tag into a root
    // scratch, then renamed into the per-partition stage dirs): a tiny
    // parquet write has ~0.1-0.3 s fixed cost, so L per-partition
    // writes per commit collapsing to 2 jobs dominates multi-partition
    // merge latency (guide §2.4; measured in OPTIMIZATION_r19.md).
    // The per-partition up/del overlap checks batch into ONE intersect
    // the same way. The lazy up/del frames stay in the tuple for the
    // (amortized-rare) foldChainAt branch.
    val Tag = "_graft_stage_leaf"
    def dropPart(df: DataFrame): DataFrame =
      if (df.columns.contains(partCol)) df.drop(partCol) else df
    val idxOf: Map[String, Int] = touched.zipWithIndex.toMap
    // a union of L per-partition delta frames carries the SUM of their
    // partitions; coalesce back to the SESSION SHUFFLE PARALLELISM
    // (scale-free: no shuffle, no size guess, a no-op for any union
    // already narrower), which bounds both the write task count and
    // the files-per-tag every later chain read pays for. A delta
    // wider than the session conf is deliberately narrowed to it —
    // the session parallelism is the cluster-sized write bound.
    def taggedUnion(m: Map[String, DataFrame],
        sel: DataFrame => DataFrame): Option[DataFrame] = {
      val frames = touched.flatMap { v =>
        m.get(v).map(df => sel(dropPart(df))
          .withColumn(Tag, lit(idxOf(v).toString)))
      }
      // coalesce to the session's shuffle parallelism: a no-op when
      // the union is already narrower, and no .rdd probe (which would
      // eagerly materialize any shuffle stage a caller's frame holds)
      frames.reduceOption(_.unionByName(_)).map(u =>
        if (frames.lengthCompare(1) <= 0) u
        else u.coalesce(spark.sessionState.conf.numShufflePartitions))
    }
    val upAll = taggedUnion(upserts,
      _.select(schema.fieldNames.toSeq.map(col): _*))
    val delAll = taggedUnion(deletes,
      _.select(keyCols.map(col): _*)).map(_.distinct())
    def scratchWrite(df: Option[DataFrame], what: String)
        : Option[String] = df.map { d =>
      val p = s"$root/.morstage-$what-" +
        java.util.UUID.randomUUID.toString.take(8)
      d.write.partitionBy(Tag).parquet(p)
      p
    }
    // independent staging jobs — overlap them (guide §2.6)
    val Seq(scratchUp, scratchDel) = Par.map(Seq(
      (upAll, "up"), (delAll, "del"))) {
      case (df, what) => scratchWrite(df, what)
    }
    // the up/del disjointness contract checks against the WRITTEN
    // scratches (explicit schema, so an all-empty side still reads):
    // one cheap scan of materialized delta bytes instead of
    // re-evaluating both tagged unions a second time
    for (us <- scratchUp; ds <- scratchDel) {
      val u = spark.read.schema(upAll.get.schema).parquet(us)
      val d = spark.read.schema(delAll.get.schema).parquet(ds)
      val overlap = u.select((keyCols :+ Tag).map(col): _*)
        .intersect(d.select((keyCols :+ Tag).map(col): _*))
        .select(col(Tag)).distinct().collect()
        .map(r => touched(r.getString(0).toInt))
      if (overlap.nonEmpty) {
        (scratchUp.toSeq ++ scratchDel.toSeq).foreach(p =>
          try fs.delete(new HPath(p), true)
          catch { case _: java.io.IOException => () })
        require(overlap.isEmpty,
          s"commitMerge: partition(s) ${overlap.sorted.mkString(",")} " +
            "have keys in BOTH upserts and deletes - an upsert already " +
            "replaces; a delete already removes (overlap makes the " +
            "outcome ambiguous)")
      }
    }
    val staged: Seq[(String, Option[DataFrame], Option[DataFrame],
        String)] =
      try touched.zipWithIndex.map { case (v, i) =>
        val pr = s"$root/$partCol=$v"
        val up = upserts.get(v).map(df =>
          dropPart(df).select(schema.fieldNames.toSeq.map(col): _*))
        val del = deletes.get(v).map(df =>
          dropPart(df).select(keyCols.map(col): _*).distinct())
        val stage =
          s"$pr/.mor-${java.util.UUID.randomUUID.toString.take(8)}"
        fs.mkdirs(new HPath(s"$stage/_delta"))
        // a partition whose frame produced no rows writes no scratch
        // subdir; the resolver probes each _delta subdir with
        // fs.exists, so absent == empty (same read semantics)
        def adopt(scratch: Option[String], sub: String): Unit =
          scratch.foreach { sc =>
            val src = new HPath(s"$sc/$Tag=$i")
            if (fs.exists(src))
              fs.rename(src, new HPath(s"$stage/_delta/$sub"))
          }
        adopt(scratchUp, "upserts")
        adopt(scratchDel, "deletes")
        (v, up, del, stage)
      } finally (scratchUp.toSeq ++ scratchDel.toSeq).foreach(p =>
        try fs.delete(new HPath(p), true)
        catch { case _: java.io.IOException => () })
    onBeforeLock()
    // ---- LOCKED phase: cheap metadata only (plus the amortized-rare
    // foldChainAt fold) — re-validate, bind each delta to its FRESH
    // chain base, adopt, snapshot ----
    def dropStaged(): Unit = staged.foreach { case (_, _, _, st) =>
      try fs.delete(new HPath(st), true)
      catch { case _: java.io.IOException => () }
    }
    try ManifestTable.withPublishLock(root) {
      val snap = currentSnapshot(spark, root).get
      val base = snapshotMapping(spark, root, snap).toMap
      val unknown = touched.filterNot(base.contains)
      require(unknown.isEmpty,
        "PartitionedManifest: merge-on-read may only touch existing " +
          s"partitions (new: ${unknown.mkString(",")})")
      // a schema evolution that landed mid-staging invalidates the
      // staged frames' shape — fail loudly, never adopt a stale shape
      val curSchema = snapshotSchema(spark, root, snap)
      require(curSchema.forall(s => s.map(f => (f.name, f.dataType)) ==
          schema.map(f => (f.name, f.dataType))),
        "commitMerge: the table schema evolved while the delta was " +
          "staging - restage against the current schema")
      val protectByPart = protectedDirsByKey(spark, root,
        keepSnapshots)
      val written: Map[String, String] = Par.map(staged) {
        case (v, up, del, stage) =>
          val pr = s"$root/$partCol=$v"
          val baseDir = ManifestTable.currentVersion(pr).getOrElse(
            sys.error(s"PartitionedManifest: no MANIFEST under $pr"))
          // chains must be keyed uniformly: the resolver applies the
          // TOP layer's keys to every layer, so layering a
          // differently-keyed delta would silently mis-resolve the
          // chain below it
          chainKeys(spark, pr, baseDir).foreach(bk =>
            require(bk == keyCols,
              s"commitMerge: partition $v has a delta chain keyed by " +
                s"(${bk.mkString(",")}) - a merge keyed by " +
                s"(${keyCols.mkString(",")}) cannot layer on it; " +
                "compact() first or reuse the chain's keys"))
          val protect = expandMorProtect(spark, pr,
            protectByPart.getOrElse(v, Set.empty))
          val dir =
            if (foldChainAt > 0 &&
                morChain(spark, pr, baseDir).length + 1 >= foldChainAt) {
              // bounded chain: fold instead of layering (see Scaladoc)
              val current = resolveVersionData(spark, pr, baseDir,
                Some(schema))
              val touchedKeys = (up.map(_.select(keyCols.map(col): _*))
                .toSeq ++ del.toSeq).reduce(_.unionByName(_)).distinct()
              val merged = current
                .join(touchedKeys, keyCols, "left_anti")
                .unionByName(up.getOrElse(current.limit(0)))
              val d = ManifestTable.publish(spark, pr, merged, protect)
              fs.delete(new HPath(stage), true)
              d
            } else {
              ManifestTable.writeOnce(stage, MorFile,
                s"#keys=${keyCols.mkString(",")}\nbase=$baseDir\n")
              ManifestTable.adoptVersion(pr, stage, protect)
            }
          v -> new HPath(dir).getName
      }.toMap
      writeSnapshotLocked(spark, root,
        (base ++ written).toSeq.sortBy(_._1), keepSnapshots, Some(schema),
        operation = "merge")
    } catch {
      case e: Throwable => dropStaged(); throw e
    }
  }

  /** Commit a snapshot: write ALL touched partitions' new version
    * directories in ONE Spark job (hive-partitioned scratch write, then
    * per-directory adoption — the seed() machinery, so a 500-partition
    * delta costs one job launch, not 500 sequential ones), advance each
    * touched partition's pointer (both reader paths agree), then swap
    * the ONE root pointer to a snapshot file naming every partition's
    * version — the whole delta becomes visible in a single atomic
    * rename. Pass `updates` as partitionValue → new rows (without the
    * partition column). Returns the snapshot name. `keepSnapshots`
    * (≥ 2) is the time-travel horizon; version GC keeps the pinned
    * snapshots' dirs and is delta-scoped (an untouched partition's
    * obsolete versions collect on its next touch). */
  def commitSnapshot(spark: SparkSession, root: String, partCol: String,
      updates: Map[String, DataFrame], keepSnapshots: Int = 2): String = {
    require(keepSnapshots >= 2, "keepSnapshots must be >= 2 (current + previous)")
    // serialize committers on the TABLE root (partition publishes lock
    // their own partition roots - disjoint, no deadlock): two racing
    // commits must not both read base mapping N and fight over N+1
    ManifestTable.withPublishLock(root) {
      updates.keys.foreach(checkPartValue)
      val scratch =
        if (updates.isEmpty) None
        else Some(writeScratchParts(spark, root, partCol, updates))
      val updSchema = updates.headOption.map { case (_, df) =>
        StructType(df.schema.filterNot(_.name == partCol))
      }
      try adoptPartsLocked(spark, root, partCol, scratch,
        updates.keys.toSeq.sorted, v => updates(v), keepSnapshots, updSchema)
      finally scratch.foreach(s => fsOf(spark, root).delete(new HPath(s), true))
    }
  }

  /** The ONE hive-partitioned write of every touched partition's rows
    * into a fresh scratch dir under `root` ([[SnapshotLog.writeTagged]]),
    * factored out so [[compact]] can run this expensive job OUTSIDE the
    * root publish lock. Returns the scratch path (caller deletes). */
  private def writeScratchParts(spark: SparkSession, root: String,
      partCol: String, updates: Map[String, DataFrame]): String = {
    val scratch = s"$root/.commit-${SnapshotLog.uuid8()}"
    writeTagged(unionTagged(Seq(partCol),
      updates.map { case (v, df) => Seq(v) -> df }).get, Seq(partCol),
      scratch)
    scratch
  }

  /** The clustered-OPTIMIZE scratch write: one range-partitioned,
    * internally-sorted job per candidate partition (see [[compact]]'s
    * clusterBy). The scratch layout matches [[writeScratchParts]]'s
    * (`scratch/partCol=v/`), so adoption is identical. */
  private def writeClusteredScratch(spark: SparkSession, root: String,
      partCol: String, candidates: Map[String, String],
      schema: Option[StructType], clusterBy: Seq[String],
      clusterFiles: Int, targetBytes: Long,
      zOrder: Boolean = false): String = {
    val fs = fsOf(spark, root)
    val scratch =
      s"$root/.optimize-${java.util.UUID.randomUUID.toString.take(8)}"
    // one independent resolve+clustered-write job per candidate
    // partition — overlap them (guide §2.6)
    Par.map(candidates.toSeq.sortBy(_._1)) { case (v, dir) =>
      val df = resolveVersionData(spark, s"$root/$partCol=$v",
        new HPath(dir).getName, schema)
      // size-derived file count sums the whole MOR chain's bytes (an
      // upper bound on the resolved size — safe for sizing)
      val bytes = morChain(spark, s"$root/$partCol=$v",
          new HPath(dir).getName)
        .map(d => fs.getContentSummary(
          new HPath(s"$root/$partCol=$v/$d")).getLength).sum
      val nf =
        if (clusterFiles > 0) clusterFiles
        else math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val clustered = clusterFrame(df, clusterBy, nf, zOrder,
        s"partition $v")
      clustered.write.mode("error").parquet(s"$scratch/$partCol=$v")
      // layout marker rides INTO the version dir at adoption: repeated
      // identical clustered OPTIMIZE calls then select nothing (see
      // [[compact]]'s candidate gate) — Iceberg's sort-order metadata
      // in one underscore-prefixed (reader-invisible) file
      ManifestTable.writeOnce(s"$scratch/$partCol=$v", ClusterMarker,
        clusterMarkerBody(clusterBy, clusterFiles, zOrder))
    }
    scratch
  }

  /** The layout transform itself — one frame range-partitioned into
    * `nf` internally-sorted files, lexicographically on `clusterBy` or
    * Morton-interleaved (`zOrder`). Shared by the single-column
    * [[compact]] and the composite-spec
    * [[SpecManifest.rewriteLayout]]. */
  private[engine] def clusterFrame(df: DataFrame, clusterBy: Seq[String],
      nf: Int, zOrder: Boolean, what: String): DataFrame =
    if (!zOrder)
      df.repartitionByRange(nf, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    else {
      // OPTIMIZE ZORDER: interleave the two dimensions on the
      // Morton curve so EITHER column's range predicate prunes
      // files (a lexicographic sort only serves its leading
      // column). Each dimension min-max scales to the full
      // 16-bit range per partition first (Delta's range-bounds
      // pass) — interleaving raw values that only touch the low
      // bits would leave every row in one Z quadrant.
      require(clusterBy.length == 2,
        "zOrder clustering interleaves exactly two columns")
      val Seq(c1, c2) = clusterBy
      // try_cast, not cast: under ANSI a non-numeric value would
      // throw an opaque CAST_INVALID_INPUT mid-job — the guard
      // below turns the all-null outcome into a clear layout error
      val r = df.agg(min(expr(s"try_cast(`$c1` as bigint)")),
        max(expr(s"try_cast(`$c1` as bigint)")),
        min(expr(s"try_cast(`$c2` as bigint)")),
        max(expr(s"try_cast(`$c2` as bigint)"))).head()
      // loud validation instead of an opaque NPE mid-rewrite: an
      // all-NULL column, a column that does not cast to bigint
      // (string/date), or an empty partition leaves null agg slots
      if ((0 to 3).exists(r.isNullAt))
        throw new LayoutValidationException(
          s"zOrder: $what needs non-empty data and cluster " +
            s"columns (${clusterBy.mkString(", ")}) castable to " +
            "bigint with at least one non-null value each")
      val (amin, amax) = (r.getLong(0), r.getLong(1))
      val (bmin, bmax) = (r.getLong(2), r.getLong(3))
      val spanA = math.max(amax - amin, 1L)
      val spanB = math.max(bmax - bmin, 1L)
      // integer `div`, not `/` (Column./ is float division);
      // try_cast so a stray non-castable value lands in the null
      // range-partition instead of failing the whole rewrite
      val a16 = expr(
        s"((try_cast(`$c1` as bigint) - ${amin}L) * 65535L) div ${spanA}L")
      val b16 = expr(
        s"((try_cast(`$c2` as bigint) - ${bmin}L) * 65535L) div ${spanB}L")
      df.withColumn("_graft_z",
          graft.operators.Layout.zOrder16(a16, b16))
        .repartitionByRange(nf, col("_graft_z"))
        .sortWithinPartitions(col("_graft_z"))
        .drop("_graft_z")
    }

  /** Sort-order marker file a clustered rewrite stamps into its version
    * dirs (underscore-prefixed: readers never see it). */
  private[engine] val ClusterMarker = "_clustered.tsv"

  private[engine] def clusterMarkerBody(clusterBy: Seq[String],
      clusterFiles: Int, zOrder: Boolean): String =
    s"clusterBy=${clusterBy.mkString(",")}\nfiles=$clusterFiles\n" +
      s"zorder=$zOrder\n"

  /** Is this (pure) version dir already clustered under exactly this
    * layout spec? Conservative: no marker / different layout → false
    * (the partition is re-selected). */
  private[engine] def isClusteredAs(spark: SparkSession, dirPath: String,
      clusterBy: Seq[String], clusterFiles: Int,
      zOrder: Boolean): Boolean = {
    val fs = fsOf(spark, dirPath)
    val p = new HPath(dirPath, ClusterMarker)
    fs.exists(p) && SnapshotLog.readUtf8(fs, p) ==
      clusterMarkerBody(clusterBy, clusterFiles, zOrder)
  }

  /** The METADATA half of a snapshot commit, always under the root
    * publish lock: adopt each touched partition's pre-written scratch
    * subdir as that partition's next version (publishing `emptyUpdate`
    * where the write produced no subdir — an all-empty partition),
    * then write + swap the snapshot naming every partition's version
    * and trim past the keep-N horizon. */
  private def adoptPartsLocked(spark: SparkSession, root: String,
      partCol: String, scratch: Option[String], parts: Seq[String],
      emptyUpdate: String => DataFrame, keepSnapshots: Int,
      updatesSchema: Option[StructType] = None,
      operation: String = "commit"): String = {
    val base = baseMappingLocked(spark, root, partLeaf(partCol),
      () => partitionValues(spark, root, partCol))
    // schema evolution check FIRST — a rejected merge (silent column
    // drop, type change) must fail BEFORE any partition pointer moves,
    // or the table would be torn between adopted dirs and the old
    // snapshot. Evolution is additive-only; see dropColumn.
    val mergedSchema = evolvedSchema(currentSnapshot(spark, root)
      .flatMap(sn => snapshotSchema(spark, root, sn)), updatesSchema)
    val written = adoptLeavesLocked(spark, root, scratch, parts,
      keepSnapshots, partLeaf(partCol), v => dropCol(emptyUpdate(v), partCol))
    val mapping = (base ++ written).toSeq.sortBy(_._1)
    // first commit / legacy tables with neither a recorded schema nor
    // updates derive theirs once from a live version dir's footer
    val newSchema = mergedSchema.orElse(mapping.headOption.map {
      case (v, d) => footerSchema(spark, s"$root/$partCol=$v/$d") })
    writeSnapshotLocked(spark, root, mapping, keepSnapshots, newSchema,
      operation = operation)
  }

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
    ManifestTable.currentDataDir(tableRoot) match {
      case Some(dir) =>
        fsOf(spark, tableRoot).listStatus(new HPath(dir)).toSeq.filter {
          st =>
            st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith(".")
        }
      case None => Seq.empty
    }

  /** Small-file compaction — the Iceberg `rewrite_data_files` /
    * OPTIMIZE maintenance pass, and the lakehouse analogue of the
    * reference's maintenance packet family (db_converter's
    * `maintenance` packets run VACUUM-ish upkeep through the same
    * run/track machinery; here the upkeep target is file layout).
    * Every partition whose live version holds more than `maxFiles`
    * SMALL data files (strictly under `smallFileBytes`) is rewritten —
    * content-preserving by construction: the update is the partition's
    * OWN live rows, re-written through [[commitSnapshot]]'s one-job
    * hive-partitioned write (the REBALANCE write lands a small
    * partition in one file and a partition above the advisory size in
    * advisory-sized files) and published in ONE atomic snapshot
    * commit. Convergent by the size gate: a rewritten partition's
    * files are either one (small partition) or advisory-sized chunks,
    * so the next run finds no small files and selects nothing. The
    * advisory sizes PRE-ENCODING shuffle bytes, so on-disk parquet
    * lands at advisory/compression-ratio — `smallFileBytes` must stay
    * BELOW that (the 8 MB default tolerates 8x compression under the
    * 64 MB advisory default; raise it only in step with the advisory,
    * or a just-compacted compressible partition re-qualifies forever).
    * Untouched partitions keep their version dirs byte-for-byte (the
    * snapshot maps them unchanged), and a run that selects NOTHING
    * commits NOTHING (no snapshot churn, no keep-N trim — safe to
    * schedule against a healthy table).
    *
    * Scale shape: candidate selection is a driver-side directory
    * listing (partition-count-bounded metadata, no data read); the
    * rewrite is one Spark job over exactly the fragmented partitions'
    * bytes. Concurrency is OPTIMISTIC (the Iceberg
    * `rewrite_data_files` contract): the read-set (partition → live
    * version dir) is snapshotted under the root publish lock, the
    * rewrite job runs entirely OUTSIDE it — so at 100 TB a
    * minutes-long layout rewrite never stalls a single ingest commit;
    * commit latency during compaction is bounded by lock acquisition,
    * not rewrite duration — and the lock is re-acquired only to
    * VALIDATE that each rewritten partition's live version is
    * unchanged. Clean partitions commit in one atomic snapshot;
    * partitions a concurrent commit touched mid-rewrite are NOT
    * committed (the fresh commit's rows win — nothing is ever lost)
    * and are retried with a fresh read-set, up to `maxAttempts`
    * rounds; a partition that keeps invalidating is left for the next
    * scheduled run (compaction is convergent maintenance, skipping a
    * hot partition is always safe). A read-set dir GC'd mid-rewrite
    * (the partition advanced twice concurrently) fails the rewrite
    * job loudly; the pass re-selects and retries within the same
    * attempt budget. Pass the table's own `keepSnapshots` horizon: a
    * real compaction IS a commit and trims like any other.
    *
    * @param onBeforeValidate test seam, called after each rewrite job
    *        completes and BEFORE the lock is re-acquired for
    *        validation — the race window a concurrent committer can
    *        land in (EngineSpec drives a deterministic mid-compaction
    *        commit through it)
    * @return (snapshot id — the LAST commit this pass made, or the
    *         unchanged current one when nothing qualified; compacted
    *         partition values)
    */
  /** `clusterBy` turns the rewrite into a CLUSTERED OPTIMIZE (Iceberg's
    * rewrite_data_files with a sort order / Delta's OPTIMIZE ZORDER
    * BY): each rewritten partition is RANGE-SPLIT on the cluster
    * columns into `clusterFiles` files (0 = size-derived from
    * `clusterTargetBytes`), each internally sorted — so the
    * [[analyzeFileStats]] zone maps get DISJOINT per-file spans and
    * range scans drop whole files (w19 pins the before/after pruning).
    * The clustered path writes one job per candidate partition
    * (offline maintenance; file-group-shaped work, as Iceberg's
    * rewrite runs it) and, with an explicit `clusterFiles`, is NOT
    * convergent under the small-file gate by design — it is an
    * explicit layout action, not the steady-state dedup of w08. */
  def compact(spark: SparkSession, root: String, partCol: String,
      maxFiles: Int = 1, keepSnapshots: Int = 2,
      smallFileBytes: Long = 8L << 20, maxAttempts: Int = 3,
      onBeforeValidate: () => Unit = () => (),
      clusterBy: Seq[String] = Nil, clusterFiles: Int = 0,
      clusterTargetBytes: Long = 128L << 20,
      clusterZOrder: Boolean = false): (String, Seq[String]) = {
    require(keepSnapshots >= 2,
      "keepSnapshots must be >= 2 (current + previous)")
    val fs = fsOf(spark, root)
    // fragmented partitions with their live version dirs, resolved
    // under the lock so the read-set is a consistent point-in-time view
    // a merge-on-read live version is ALWAYS a candidate: a delta chain
    // is deferred merge work, and compaction is its fold-down — the
    // rewrite below resolves the logical content and publishes a pure
    // data dir, converging the layout
    def selectReadSet(among: Option[Set[String]]): Map[String, String] =
      partitionValues(spark, root, partCol)
        .filter(v => among.forall(_.contains(v)))
        .filter { v =>
          val pr = s"$root/$partCol=$v"
          val morLive =
            ManifestTable.currentDataDir(pr).exists(isMorDir(spark, _))
          // an explicit CLUSTERED rewrite is a layout action: it
          // selects every partition regardless of file sizes (the
          // small-file gate is the steady-state dedup heuristic —
          // at scale the interleaved files it must fix are LARGE).
          // CONVERGENT, though: a partition whose live version already
          // carries this exact layout's marker is skipped, so repeated
          // identical OPTIMIZE calls rewrite nothing (a MOR-live
          // partition re-selects — its chain is new unclustered data)
          if (clusterBy.nonEmpty)
            morLive || !ManifestTable.currentDataDir(pr).exists(d =>
              isClusteredAs(spark, d, clusterBy, clusterFiles,
                clusterZOrder))
          else
            smallDataFileCount(spark, pr, smallFileBytes) > maxFiles ||
              morLive
        }
        .map { v =>
          v -> ManifestTable.currentDataDir(s"$root/$partCol=$v")
            .getOrElse(sys.error(s"no MANIFEST under $root/$partCol=$v"))
        }.toMap
    val done = scala.collection.mutable.ListBuffer.empty[String]
    var lastSnap: Option[String] = None
    var candidates = ManifestTable.withPublishLock(root)(selectReadSet(None))
    var attempt = 0
    while (candidates.nonEmpty && attempt < maxAttempts) {
      attempt += 1
      // EXPENSIVE phase, NO lock held: rewrite the read-set's bytes into
      // scratch. The read-set dirs are immutable once written; if a
      // concurrent committer advanced a partition far enough for GC to
      // collect its read-set dir, this job fails — re-select and retry.
      val scratch =
        try {
          // rewrite through the RECORDED schema when the table evolved:
          // a pre-evolution version dir lacks added columns (read as
          // NULL), and without the explicit schema the mixed-shape
          // union across candidates would fail — compaction then
          // materializes the nulls, converging the layout on the
          // current shape
          val curSchema = currentSnapshot(spark, root)
            .flatMap(sn => snapshotSchema(spark, root, sn))
          if (clusterBy.nonEmpty)
            Some(writeClusteredScratch(spark, root, partCol, candidates,
              curSchema, clusterBy, clusterFiles, clusterTargetBytes,
              clusterZOrder))
          else {
            // resolveVersionData: a merge-on-read candidate's rewrite is
            // its RESOLVED content — the fold-down that converges the
            // delta chain back to a pure data dir
            val updates = candidates.map { case (v, dir) =>
              v -> resolveVersionData(spark, s"$root/$partCol=$v",
                new HPath(dir).getName, curSchema)
            }
            Some(writeScratchParts(spark, root, partCol, updates))
          }
        } catch {
          case e: LayoutValidationException => throw e
          case scala.util.control.NonFatal(_) => None
        }
      onBeforeValidate()
      scratch match {
        case None =>
          candidates = ManifestTable.withPublishLock(root)(
            selectReadSet(Some(candidates.keySet)))
        case Some(s) =>
          candidates = ManifestTable.withPublishLock(root) {
            // CHEAP phase, lock held: a candidate is clean iff its live
            // version is still exactly the read-set dir (every commit
            // path advances the partition pointer, so pointer identity
            // IS read-set validity)
            val (clean, dirty) = candidates.partition { case (v, dir) =>
              ManifestTable.currentDataDir(s"$root/$partCol=$v")
                .contains(dir)
            }
            if (clean.nonEmpty) {
              // emptyUpdate reads the (validated, still-live) read-set
              // dir — only reached for a partition whose rewrite
              // produced no scratch subdir, i.e. zero resolved rows
              lastSnap = Some(adoptPartsLocked(spark, root, partCol,
                Some(s), clean.keys.toSeq.sorted,
                v => resolveVersionData(spark, s"$root/$partCol=$v",
                  new HPath(clean(v)).getName, None), keepSnapshots,
                operation = "compact"))
              done ++= clean.keys
            }
            // retry only the invalidated partitions, against their NEW
            // live versions — and only if still fragmented
            selectReadSet(Some(dirty.keySet))
          }
          fs.delete(new HPath(s), true)
      }
    }
    (lastSnap.orElse(currentSnapshot(spark, root)).getOrElse(""),
      done.sorted.toSeq)
  }

  /** ORPHAN cleanup ([[SnapshotLog]]'s sweep) under the root and every
    * partition root; the partition column is read off the table's own
    * `<col>=<value>` layout. Returns the deleted paths. */
  def cleanOrphans(spark: SparkSession, root: String,
      graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val pc = snapshotPartCol(spark, root)
    sweepOrphans(spark, root, graceMs, partLeaf(pc),
      () => partitionValues(spark, root, pc))
  }

  /** FILE inspection table of a snapshot (see [[SnapshotLog]]). */
  def filesMetadata(spark: SparkSession, root: String, partCol: String,
      snapshot: Option[String] = None): DataFrame =
    filesMetadataOf(spark, root, snapshot, partLeaf(partCol))

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

  /** Collect file-level min/max stats for `cols` on every LIVE version
    * directory of the table. Idempotent per version (version dirs are
    * immutable; an analyzed one is skipped), so scheduling this after
    * every commit costs one footer sweep of the DELTA's files only.
    * Returns the number of version dirs newly analyzed. */
  def analyzeFileStats(spark: SparkSession, root: String, partCol: String,
      cols: Seq[String]): Int =
    partitionValues(spark, root, partCol).map { v =>
      val dir = ManifestTable.currentDataDir(s"$root/$partCol=$v")
        .getOrElse(sys.error(s"no MANIFEST under $root/$partCol=$v"))
      // a merge-on-read dir has no top-level data files: an (empty)
      // sidecar would make every later skip-scan silently drop the
      // partition's content — refuse loudly; compact() first
      require(!isMorDir(spark, dir),
        s"PartitionedManifest: partition $v is merge-on-read at $dir - " +
          "analyze after compact() folds the delta chain down")
      if (FileStats.collect(spark, dir, cols) >= 0) 1 else 0
    }.sum

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
    val parts = partitions.getOrElse(partitionValues(spark, root, partCol))
    var total = 0
    var keptFiles = Vector.empty[String]
    parts.foreach { v =>
      val dir = ManifestTable.currentDataDir(s"$root/$partCol=$v")
        .getOrElse(sys.error(s"no MANIFEST under $root/$partCol=$v"))
      require(!isMorDir(spark, dir),
        s"PartitionedManifest: partition $v is merge-on-read at $dir - " +
          "skip-scans read top-level data files only; compact() first")
      val stats = FileStats.statsFor(spark, dir)
      val files = fsOf(spark, root).listStatus(new HPath(dir))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getPath.toString).sorted
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
      else readDirsWithPartCol(spark, keptFiles, partCol, partType)
    (applyFilter(df), keptFiles.length, total)
  }

  /** Read a set of paths as ONE relation, recovering the partition
    * value from the `partCol=value` path segment via the DETERMINISTIC
    * hidden file-metadata column (shared by [[changesBetween]] and
    * [[scanWithFileSkipping]]). */
  private def readDirsWithPartCol(spark: SparkSession, paths: Seq[String],
      partCol: String, partType: String,
      schema: Option[StructType] = None): DataFrame = {
    val df = schema.map(sc => spark.read.schema(sc).parquet(paths: _*))
      .getOrElse(spark.read.parquet(paths: _*))
    df.withColumn(partCol,
      regexp_extract(col("_metadata.file_path"),
        java.util.regex.Pattern.quote(s"/$partCol=") + "([^/]+)/", 1)
        .cast(partType))
      .select((df.columns.map(col) :+ col(partCol)): _*)
  }

  /** Read a COMMITTED snapshot — every partition at one commit, the
    * cross-partition-consistent view. Defaults to the current one.
    * Served through a content-pinned catalog relation (see
    * [[serveThroughPin]]): one plan node at any partition count, and
    * two concurrently-held snapshots each keep their own immutable
    * pin.
    *
    * READER-HORIZON CONTRACT: the resolved mapping stays readable for
    * as long as the snapshot is within the table's keep-N horizon —
    * every commit (including compaction) protects all kept snapshots'
    * version dirs. A reader that holds a DataFrame PAST the horizon
    * (keepSnapshots further commits land, the snapshot expires, its
    * uniquely-referenced dirs are collected on each partition's next
    * touch) either still completes — dirs are collected lazily, so
    * they may well survive — or fails LOUDLY with a missing-file
    * error; it can never silently return a partial result, because
    * the pin's file listing is fixed at resolution time and Spark
    * fails on listed-but-missing files
    * (`spark.sql.files.ignoreMissingFiles` must stay `false`, the
    * default — setting it true voids this contract by design).
    * Re-RESOLVING an expired snapshot fails loudly at
    * [[snapshotMapping]] (the snapshot file itself is trimmed). */
  def readSnapshot(spark: SparkSession, root: String, partCol: String,
      partType: String, snapshot: Option[String] = None): DataFrame = {
    val snap = snapshot.orElse(currentSnapshot(spark, root)).getOrElse(
      sys.error(s"PartitionedManifest: no snapshot committed under $root"))
    val mapping = snapshotMapping(spark, root, snap)
    require(mapping.nonEmpty, s"empty snapshot $snap")
    // time travel preserves the schema AS OF the snapshot: a read of a
    // pre-evolution commit serves the pre-evolution columns
    serveResolved(spark, root, partCol, partType,
      mapping.map { case (v, d) => v -> s"$root/$partCol=$v/$d" },
      snapshotSchema(spark, root, snap))
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
