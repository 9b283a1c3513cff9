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
    * [[resolveMorGrouped]] and everything else through the content-
    * pinned catalog relation: the common all-pure case keeps its ONE
    * plan node; MOR partitions (bounded by compaction cadence) compose
    * base ∪ delta and union on top. */
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

  /** Pin names are content hashes of (mapping, schema): the SAME dirs
    * under an evolved schema (a metadata-only dropColumn) must serve
    * through a DIFFERENT pin, or the stale relation's columns would
    * survive the evolution. Schema-less (legacy) pins keep their
    * pre-evolution names. */
  private def pinTableName(root: String, dirs: Seq[(String, String)],
      schema: Option[StructType] = None): String =
    s"graft_pm_${SnapshotLog.hash8(root)}_" + SnapshotLog.hash8(
      dirs.sortBy(_._1).map { case (v, d) => s"$v\t$d" }.mkString("\n") +
        schema.map(s => "\n#schema=" + s.json).getOrElse(""))

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
    val prefix = s"graft_pm_${SnapshotLog.hash8(root)}_"
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
          else Some(readDirsWithFields(spark,
            pure.map { case (v, d) => s"$root/$partCol=$v/$d" },
            Seq(partCol), schema)
            .withColumn(partCol, col(partCol).cast(partType)))
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

  /** MERGE-ON-READ commit over partition-keyed `upserts` (full-schema
    * replacement rows, keyed by `keyCols`) and `deletes` (key rows): each
    * touched partition gets a new version dir holding only the delta and
    * a `_mor.tsv` naming its base, and one atomic snapshot covers the
    * whole delta ([[MergeOnRead]]'s commit). Upserts carry exactly the
    * recorded schema (evolution goes through [[commitSnapshot]]);
    * touched partitions must exist. Bytes written scale with the DELTA
    * (w20 require()s it). `foldChainAt` (> 0) bounds the chain inline:
    * a merge that would make a partition's chain that deep publishes
    * the resolved content as a pure dir instead; 0 leaves the bound to
    * [[compact]]. Returns the snapshot name.
    *
    * @param onBeforeLock test seam, called after the lock-free staging
    *        completes and BEFORE the publish lock is taken — the race
    *        window a concurrent committer can land in */
  def commitMerge(spark: SparkSession, root: String, partCol: String,
      keyCols: Seq[String], upserts: Map[String, DataFrame] = Map.empty,
      deletes: Map[String, DataFrame] = Map.empty,
      keepSnapshots: Int = 2, foldChainAt: Int = 0,
      onBeforeLock: () => Unit = () => ()): String = {
    (upserts.keySet ++ deletes.keySet).foreach(checkPartValue)
    commitMergeCore(spark, root, partLeaf(partCol), Seq(partCol), keyCols,
      upserts, deletes, keepSnapshots, foldChainAt, onBeforeLock)
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
    * into a fresh scratch dir under `root` ([[SnapshotLog.writeTagged]]).
    * Returns the scratch path (caller deletes). */
  private def writeScratchParts(spark: SparkSession, root: String,
      partCol: String, updates: Map[String, DataFrame]): String = {
    val scratch = s"$root/.commit-${SnapshotLog.uuid8()}"
    writeTagged(unionTagged(Seq(partCol),
      updates.map { case (v, df) => Seq(v) -> df }).get, Seq(partCol),
      scratch)
    scratch
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
      updatesSchema: Option[StructType]): String = {
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
    writeSnapshotLocked(spark, root, mapping, keepSnapshots,
      mergedSchema.orElse(firstSchema(spark, root, partCol)(mapping)))
  }

  /** First commit / legacy tables with neither a recorded schema nor
    * updates derive theirs once from a live version dir's footer. */
  private def firstSchema(spark: SparkSession, root: String,
      partCol: String)(mapping: Seq[(String, String)]): Option[StructType] =
    mapping.headOption.map { case (v, d) =>
      footerSchema(spark, s"$root/$partCol=$v/$d") }

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
    rewriteLeaves(spark, root, partLeaf(partCol),
      () => partitionValues(spark, root, partCol),
      _.filter { case (_, dir) =>
        isMorDir(spark, dir) || (clustering match {
          case Some(c) => !isClusteredAs(spark, dir, c)
          case None =>
            dataFilesIn(spark, dir).count(_.getLen < smallFileBytes) > maxFiles
        })
      },
      None, clustering, keepSnapshots, maxAttempts, "compact",
      onBeforeValidate, firstSchema(spark, root, partCol))
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
      else readDirsWithFields(spark, keptFiles, Seq(partCol))
        .withColumn(partCol, col(partCol).cast(partType))
    (applyFilter(df), keptFiles.length, total)
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
