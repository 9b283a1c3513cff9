package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.{ManifestTable, SpecManifest}
import graft.engine.SpecManifest.{Bucket, Day, Identity, Month, PartField, PartitionSpec, Transform => GTransform, Truncate, Year}

/** The SQL front door of the graft table format — a DataSource V2
  * `TableCatalog` over [[SpecManifest]] roots, so the format's
  * consumers are plain SQL sessions, not Scala callers (the
  * reference's own posture: its packets are SQL files against NAMED
  * tables, packets/test_int4_to_int8/02_step.sql:3-6):
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sql.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  *   spark.sql.extensions              = graft.GraftExtensions
  *
  *   CREATE TABLE graft.db.orders (o_orderkey BIGINT, …)
  *     PARTITIONED BY (years(o_orderdate), bucket(4, o_custkey));
  *   INSERT INTO graft.db.orders SELECT …;
  *   SELECT … FROM graft.db.orders WHERE o_custkey = 42;   -- pruned
  *   SELECT … FROM graft.db.orders VERSION AS OF 'audited';
  *   MERGE INTO graft.db.orders t USING delta s ON t.k = s.k …;
  *   DELETE FROM graft.db.orders WHERE …;
  * }}}
  *
  * Identity resolves to `warehouse/<namespace…>/<table>` — one
  * [[SpecManifest]] root per table, so every format guarantee
  * (snapshot atomicity, MOR, CDC, tags/branches, retention, zone
  * maps, hidden partitioning) carries to the SQL surface unchanged.
  * READS substitute in the analyzer ([[GraftSqlRules]]) onto the
  * existing content-pinned, partition-pruned, zone-mapped readers —
  * the scan a Scala caller gets is byte-identical to the SQL one.
  * WRITES ride the V1 write bridge (`InsertableRelation`, the JDBC-v2
  * pattern) into snapshot commits; MERGE/DELETE/UPDATE convert to
  * runnable commands in [[GraftSqlRules]].
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(sys.error(
      s"GraftCatalog '$name': set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** The warehouse directory (the PG-DDL emulation layer keeps its
    * sequence/trigger/constraint state under `<warehouse>/_pg/`). */
  private[graft] def warehouseDir: String = warehouse

  private def spark: SparkSession = SparkSession.active

  private def fs = new HPath(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // -------------------------------------------------------------------
  // name indirection: `ALTER TABLE … RENAME TO` is ONE metadata write.
  // Data directories never move (pinned readers hold path-addressed
  // snapshots), so the warehouse carries a `_names` mapping file:
  //   <logical path> \t <actual root>   — a renamed name points at the
  //                                       original directory
  //   <logical path> \t !               — tombstone: the original name
  //                                       no longer serves its dir
  // Atomically swapped (the MANIFEST ref machinery); rename/create/
  // drop serialize on the warehouse publish lock.

  private val Tombstone = "!"

  private def pathOf(ident: Identifier): String =
    (ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def namesMap: Map[String, String] = {
    val p = new HPath(warehouse, "_names")
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      text.linesIterator.filter(_.contains("\t")).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap
    }
  }

  private def writeNames(m: Map[String, String]): Unit =
    ManifestTable.swapRefPointer(warehouse, "_names",
      m.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n") +
        "\n")

  private def tombstoned(ident: Identifier): Boolean =
    namesMap.get(pathOf(ident)).contains(Tombstone)

  private def rootOf(ident: Identifier): String =
    namesMap.get(pathOf(ident)).filter(_ != Tombstone)
      .getOrElse(s"$warehouse/${pathOf(ident)}")

  // -------------------------------------------------------------------
  // namespaces: plain directories under the warehouse

  /** Child directories of `parent` that are namespaces (a table root —
    * identified by its `_spec`/`_schema.json` markers — is a TABLE,
    * not a namespace; a directory created straight under the warehouse
    * as a table must not list as one). */
  private def childNamespaces(parent: Seq[String]): Array[String] = {
    val base = new HPath((warehouse +: parent).mkString("/"))
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base)
      .filter(s => s.isDirectory && !isTableRoot(s.getPath) &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
  }

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(Seq.empty).map(Array(_))

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace))
      childNamespaces(namespace.toSeq)
        .map(c => namespace :+ c)
    else throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs.exists(new HPath((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fs.mkdirs(new HPath((warehouse +: namespace.toSeq).mkString("/")))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog: namespace properties are not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = new HPath((warehouse +: namespace.toSeq).mkString("/"))
    if (!fs.exists(p)) false
    else {
      require(cascade || fs.listStatus(p).isEmpty,
        "GraftCatalog: namespace not empty (use CASCADE)")
      fs.delete(p, true)
    }
  }

  // -------------------------------------------------------------------
  // tables

  private def isTableRoot(p: HPath): Boolean =
    fs.exists(new HPath(p, "_spec")) && fs.exists(new HPath(p, "_schema.json"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new HPath((warehouse +: namespace.toSeq).mkString("/"))
    val dirs =
      if (!fs.exists(base)) Array.empty[Identifier]
      else fs.listStatus(base)
        .filter(s => s.isDirectory && isTableRoot(s.getPath))
        .map(s => Identifier.of(namespace, s.getPath.getName))
    // renamed names live only in the mapping; tombstoned originals hide
    val mapped = namesMap.toSeq.filter(_._2 != Tombstone)
      .map(_._1.split("/").toSeq)
      .filter(p => p.init == namespace.toSeq)
      .map(p => Identifier.of(p.init.toArray, p.last))
    (dirs.toSeq ++ mapped).distinct.filter(tableExists)
      .sortBy(_.name()).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    !tombstoned(ident) && isTableRoot(new HPath(rootOf(ident)))

  private def load(ident: Identifier,
      snapshot: Option[String]): GraftSqlTable = {
    val root = rootOf(ident)
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    // the CURRENT spec and schema versions: a table evolved through
    // the Scala API (evolveSpec) or ALTER TABLE must keep serving —
    // readSpec / _schema.json alone return the seed-time v1
    new GraftSqlTable(
      (catalogName +: ident.namespace().toSeq :+ ident.name())
        .mkString("."),
      root, SpecManifest.specVersions(spark, root).last,
      GraftSchemas.current(spark, root), snapshot)
  }

  /** Iceberg-style METADATA TABLE addressing: `g.db.t.files`,
    * `g.db.t.snapshots`, `g.db.t.history` parse as namespace
    * `[db, t]`, name `files` — served when `t` is a real graft table
    * and no physical table shadows the name. */
  private def metaTable(ident: Identifier): Option[GraftMetaTable] =
    if (ident.namespace().isEmpty ||
        !GraftMetaTable.Kinds.contains(ident.name())) None
    else {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      if (!tableExists(parent)) None
      else {
        val t = load(parent, None)
        Some(new GraftMetaTable(s"${t.name()}.${ident.name()}",
          ident.name(), t.root, t.spec))
      }
    }

  override def loadTable(ident: Identifier): Table =
    if (tableExists(ident)) load(ident, None)
    else metaTable(ident).getOrElse(load(ident, None))

  /** `VERSION AS OF '<snapshot-or-tag-or-branch>'` — resolves refs
    * through the same machinery as the Scala readers, and serves the
    * SCHEMA in effect when that snapshot committed (an added column
    * does not exist in the past; a dropped one still does). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    val t = load(ident, None)
    val snap = SpecManifest.resolveRef(spark, root, Some(version))
      .getOrElse(sys.error(s"GraftCatalog: unknown ref $version"))
    require(SpecManifest.snapshots(spark, root).contains(snap),
      s"GraftCatalog: unknown or expired snapshot/ref '$version'")
    new GraftSqlTable(t.name(), root, t.spec,
      GraftSchemas.forSnapshot(spark, root, snap), Some(snap))
  }

  /** `TIMESTAMP AS OF …` — Spark hands MICROSECONDS since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    val t = load(ident, None)
    val snap = SpecManifest.snapshotAsOf(spark, root, timestamp / 1000L)
      .getOrElse(sys.error(
        s"GraftCatalog: no snapshot at or before the asked instant " +
          "(the retention horizon may have moved past it)"))
    new GraftSqlTable(t.name(), root, t.spec,
      GraftSchemas.forSnapshot(spark, root, snap), Some(snap))
  }

  /** Map Spark's parsed PARTITIONED BY transforms onto the spec
    * transforms. Field names are derived deterministically and NEVER
    * collide with data columns (hidden partitioning: the fields are
    * layout, not data). */
  private def toSpec(partitions: Array[Transform],
      schema: StructType): PartitionSpec = {
    def srcOf(parts: Seq[String]): String = {
      require(parts.length == 1,
        s"GraftCatalog: nested partition sources unsupported: $parts")
      val n = parts.head
      require(schema.fieldNames.contains(n),
        s"GraftCatalog: unknown partition source column '$n'")
      n
    }
    val fields = partitions.toSeq.map { t =>
      org.apache.spark.sql.graft.TransformBridge.decode(t) match {
        case ("identity", ref, _) =>
          val s = srcOf(ref); PartField(s"p_$s", s, Identity)
        case ("years", ref, _) =>
          val s = srcOf(ref); PartField(s"${s}_year", s, Year)
        case ("months", ref, _) =>
          val s = srcOf(ref); PartField(s"${s}_month", s, Month)
        case ("days", ref, _) =>
          val s = srcOf(ref); PartField(s"${s}_day", s, Day)
        case ("bucket", ref, Some(n)) =>
          val s = srcOf(ref); PartField(s"${s}_bucket", s, Bucket(n.toInt))
        case ("truncate", ref, Some(w)) =>
          val s = srcOf(ref); PartField(s"${s}_trunc", s, Truncate(w))
        case (kind, _, _) => sys.error(
          s"GraftCatalog: unsupported partition transform $kind " +
            "(identity, years, months, days, bucket, truncate)")
      }
    }
    require(fields.nonEmpty,
      "GraftCatalog: graft tables are partitioned - declare " +
        "PARTITIONED BY (at 100 TB an unpartitioned table is a bug)")
    PartitionSpec(fields)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException(ident)
    if (tombstoned(ident)) {
      // the name was renamed away; its directory may still hold the
      // renamed table's data (path-addressed) — re-creating over it
      // would collide. Once the renamed table is dropped the path
      // frees up and the tombstone clears here.
      require(!isTableRoot(new HPath(s"$warehouse/${pathOf(ident)}")),
        s"GraftCatalog: '${pathOf(ident)}' was renamed away and its " +
          "directory still holds that table's data - drop the renamed " +
          "table first or pick another name")
      ManifestTable.withPublishLock(warehouse)(
        writeNames(namesMap - pathOf(ident)))
    }
    val root = rootOf(ident)
    val spec = toSpec(partitions, schema)
    fs.mkdirs(new HPath(root))
    ManifestTable.writeOnce(root, "_schema.json", schema.json + "\n")
    ManifestTable.writeOnce(root, "_spec", spec.render + "\n")
    // recognized TBLPROPERTIES persist; Spark's reserved/engine keys
    // (provider, owner, …) are not table state here. Anything ELSE is
    // rejected the same way ALTER rejects it — a typo'd retention key
    // silently ignored would leave the user believing retention is
    // configured when it is not
    val reserved = Set("provider", "owner", "location", "comment",
      "external", "is_managed_location", "format")
    scala.jdk.CollectionConverters.MapHasAsScala(properties).asScala
      .keys.foreach(k => require(
        k == GraftProps.KeepSnapshots || reserved.contains(k) ||
          k.startsWith("option.") || k.startsWith("spark.sql."),
        s"GraftCatalog: unsupported table property '$k' " +
          s"(only ${GraftProps.KeepSnapshots})"))
    Option(properties.get(GraftProps.KeepSnapshots)).foreach(v =>
      GraftProps.set(root, GraftProps.KeepSnapshots, v))
    load(ident, None)
  }

  /** SQL `ALTER TABLE` — METADATA-ONLY schema evolution (the Iceberg
    * posture; at 100 TB a schema change must never rewrite data):
    *
    *   - `ADD COLUMN c t` — appends a nullable column; existing rows
    *     serve NULL (parquet missing-column fill), new writes carry it;
    *   - `DROP COLUMN c` — removes it from the served schema; the
    *     bytes stay until leaves next rewrite (partition sources and
    *     the last data column refuse);
    *   - `ALTER COLUMN c TYPE t` — WIDENING only (int8/16/32→bigint,
    *     int→double, float→double: the conversions the Spark 4 parquet
    *     reader performs natively); bucket-transform sources refuse —
    *     the bucket hash is width-sensitive, so widening one would
    *     silently re-derive new rows into different leaves.
    *
    *   - `RENAME COLUMN a TO b` — metadata-only as well: the field
    *     keeps its PHYSICAL (creation-time) spelling inside the files
    *     (recorded as field metadata, the Iceberg field-id idea spelled
    *     by name); readers alias it out, writers rename before landing
    *     bytes. Partition sources refuse (the hidden layout derives
    *     from them by name).
    *
    * Time travel keeps serving each snapshot under the schema that was
    * current when it committed ([[GraftSchemas]]). */
  override def alterTable(ident: Identifier, changes: TableChange*)
      : Table = {
    import TableChange._
    val root = rootOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // property changes are not schema versions — apply and strip them
    val (propChanges, schemaChanges) = changes.partition {
      case _: SetProperty | _: RemoveProperty => true
      case _ => false
    }
    // VALIDATE property changes up front (name and value), but APPLY
    // them only after the schema changes in the same statement
    // succeed — otherwise a failing combined ALTER would leave the
    // property mutation persisted (a half-applied statement)
    propChanges.foreach {
      case p: SetProperty =>
        require(p.property == GraftProps.KeepSnapshots,
          s"GraftCatalog: unsupported table property '${p.property}' " +
            s"(only ${GraftProps.KeepSnapshots})")
        require(scala.util.Try(p.value.toInt).toOption.exists(_ >= 2),
          s"GraftCatalog: ${GraftProps.KeepSnapshots} must be an " +
            s"integer >= 2, got '${p.value}'")
      case r: RemoveProperty =>
        require(r.property == GraftProps.KeepSnapshots,
          s"GraftCatalog: unsupported table property '${r.property}' " +
            s"(only ${GraftProps.KeepSnapshots})")
      case _ =>
    }
    def applyProps(): Unit = propChanges.foreach {
      case p: SetProperty => GraftProps.set(root, p.property, p.value)
      case r: RemoveProperty => GraftProps.remove(root, r.property)
      case _ =>
    }
    if (schemaChanges.isEmpty) { applyProps(); return load(ident, None) }
    val allSources = SpecManifest.specVersions(spark, root)
      .flatMap(_.fields.map(_.source)).toSet
    val bucketSrc = SpecManifest.specVersions(spark, root)
      .flatMap(_.fields).filter(_.transform match {
        case Bucket(_) => true
        case _ => false
      }).map(_.source).toSet
    def widens(from: DataType, to: DataType): Boolean = {
      import org.apache.spark.sql.types._
      (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType | DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
    }
    val history = GraftSchemas.versions(spark, root)
    val cur = history.last._2
    // every physical spelling that EVER named bytes in this table's
    // files (current or dropped): a new column may not reuse one — old
    // parquet files still carry those bytes, and a name-based reader
    // would serve the stale values instead of NULL (the field-id
    // problem). Re-adding such a name gets a FRESH physical spelling.
    val everPhys: Set[String] = history.flatMap(_._2.map(f =>
      GraftSchemas.physicalName(f))).toSet
    val next = schemaChanges.foldLeft(cur) { (schema, ch) =>
      ch match {
        case a: AddColumn =>
          require(a.fieldNames.length == 1,
            "GraftCatalog: ADD COLUMN supports top-level columns only")
          val n = a.fieldNames.head
          require(!schema.fieldNames.contains(n),
            s"GraftCatalog: column '$n' already exists")
          require(a.isNullable,
            "GraftCatalog: ADD COLUMN must be nullable - existing rows " +
              "have no value for it (add nullable, backfill, then use)")
          if (!everPhys.contains(n) &&
              !schema.exists(f => GraftSchemas.physicalName(f) == n))
            schema.add(n, a.dataType, nullable = true)
          else {
            // the spelling is (or was) live in files — store the new
            // column under a fresh physical name so pre-existing bytes
            // stay invisible and reads serve NULL
            val taken = everPhys ++
              schema.map(f => GraftSchemas.physicalName(f)) ++
              schema.fieldNames
            var k = history.length
            while (taken.contains(s"${n}__r$k")) k += 1
            val md = new org.apache.spark.sql.types.MetadataBuilder()
              .putString(GraftSchemas.PhysKey, s"${n}__r$k").build()
            schema.add(org.apache.spark.sql.types.StructField(
              n, a.dataType, nullable = true, metadata = md))
          }
        case r: RenameColumn =>
          require(r.fieldNames.length == 1,
            "GraftCatalog: RENAME COLUMN supports top-level columns only")
          val n = r.fieldNames.head
          require(schema.fieldNames.contains(n),
            s"GraftCatalog: no column '$n'")
          require(!schema.fieldNames.contains(r.newName),
            s"GraftCatalog: column '${r.newName}' already exists")
          val f = schema(n)
          val phys = GraftSchemas.physicalName(f)
          require(!allSources.contains(phys),
            s"GraftCatalog: '$n' is a partition source column - " +
              "hidden partitioning derives the layout from it")
          // METADATA-ONLY: the field keeps its physical (creation-time)
          // spelling inside the files; readers alias it out, writers
          // rename to it before landing bytes
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          val renamed =
            if (phys == r.newName) // renamed back to its physical name
              f.copy(name = r.newName,
                metadata = md.remove(GraftSchemas.PhysKey).build())
            else f.copy(name = r.newName, metadata =
              md.putString(GraftSchemas.PhysKey, phys).build())
          StructType(schema.map(x => if (x.name == n) renamed else x))
        case d: DeleteColumn =>
          require(d.fieldNames.length == 1,
            "GraftCatalog: DROP COLUMN supports top-level columns only")
          val n = d.fieldNames.head
          if (!schema.fieldNames.contains(n)) {
            require(d.ifExists, s"GraftCatalog: no column '$n'")
            schema
          } else {
            require(!allSources.contains(n),
              s"GraftCatalog: '$n' is a partition source column - " +
                "hidden partitioning derives the layout from it")
            require(schema.length > 1,
              "GraftCatalog: cannot drop the last data column")
            StructType(schema.filterNot(_.name == n))
          }
        case u: UpdateColumnType =>
          require(u.fieldNames.length == 1,
            "GraftCatalog: ALTER COLUMN supports top-level columns only")
          val n = u.fieldNames.head
          require(schema.fieldNames.contains(n),
            s"GraftCatalog: no column '$n'")
          val from = schema(n).dataType
          require(widens(from, u.newDataType),
            s"GraftCatalog: only WIDENING type changes are supported " +
              s"(got ${from.simpleString} -> " +
              s"${u.newDataType.simpleString}); for anything else add " +
              "a new column and backfill (the reference's int4->int8 " +
              "posture)")
          require(!bucketSrc.contains(n),
            s"GraftCatalog: '$n' sources a bucket partition transform " +
              "- the bucket hash is width-sensitive, widening would " +
              "re-derive new rows into different leaves")
          StructType(schema.map(f =>
            if (f.name == n) f.copy(dataType = u.newDataType) else f))
        case o => throw new UnsupportedOperationException(
          s"GraftCatalog: unsupported ALTER TABLE change $o (ADD " +
            "COLUMN, DROP COLUMN, ALTER COLUMN TYPE <widening>)")
      }
    }
    require(next != cur, "GraftCatalog: ALTER TABLE changed nothing")
    // CAS on the version count this computation was based on: a racing
    // ALTER that landed in between must fail this one loudly instead
    // of being silently folded over a stale base
    GraftSchemas.evolve(spark, root, next,
      expectedVersions = Some(history.length))
    applyProps()
    load(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (tombstoned(ident)) return false
    val p = new HPath(rootOf(ident))
    if (!isTableRoot(p)) false
    else {
      val ok = fs.delete(p, true)
      if (ok && namesMap.contains(pathOf(ident)))
        ManifestTable.withPublishLock(warehouse)(
          writeNames(namesMap - pathOf(ident)))
      ok
    }
  }

  /** `ALTER TABLE … RENAME TO` — ONE metadata write into the `_names`
    * mapping. The data directory never moves, so pinned readers
    * (time-travel, open scans) keep serving their path-addressed
    * snapshots; the old name tombstones, the new name points at the
    * original root. */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    ManifestTable.withPublishLock(warehouse) {
      if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
      if (tableExists(newIdent))
        throw new TableAlreadyExistsException(newIdent)
      require(namespaceExists(newIdent.namespace()),
        s"GraftCatalog: namespace " +
          s"${newIdent.namespace().mkString(".")} does not exist")
      require(!isTableRoot(
          new HPath(s"$warehouse/${pathOf(newIdent)}")),
        s"GraftCatalog: a dropped-but-renamed-away table's directory " +
          s"still occupies '${pathOf(newIdent)}'")
      val m = namesMap
      val oldPath = pathOf(oldIdent)
      val actualRoot = m.get(oldPath).filter(_ != Tombstone)
        .getOrElse(s"$warehouse/$oldPath")
      // a name whose PHYSICAL dir holds the data tombstones; a name
      // that was itself a rename just drops its mapping entry
      val m2 = (if (isTableRoot(new HPath(s"$warehouse/$oldPath")))
        m + (oldPath -> Tombstone)
      else m - oldPath) + (pathOf(newIdent) -> actualRoot)
      writeNames(m2)
    }

  // -------------------------------------------------------------------
  // stored procedures: `CALL <cat>.system.<proc>(…)` — the SQL face of
  // the maintenance surface (see [[GraftProcedures]])

  /** A procedure's `table` argument (`'db.t'`) resolved to its root,
    * validated as an existing graft table of THIS catalog. */
  private[graft] def rootOfTableName(table: String): String = {
    val parts = table.split("\\.").toSeq.filter(_.nonEmpty)
    require(parts.nonEmpty, s"GraftCatalog: empty table name '$table'")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    rootOf(ident)
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().toSeq == Seq("system"),
      s"GraftCatalog: procedures live under the 'system' namespace " +
        s"(CALL $catalogName.system.<proc>), got " +
        ident.namespace().mkString("."))
    GraftProcedures.load(ident.name(), this)
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    GraftProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray
}

/** Any graft catalog table whose SQL reads substitute in the analyzer
  * onto an engine-built DataFrame ([[GraftSqlRules]]). */
trait GraftReadableTable extends Table with SupportsRead {
  def buildRead(spark: SparkSession): DataFrame
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => throw new UnsupportedOperationException(
    s"graft table ${name()}: SQL reads require the graft analyzer " +
      "rules - add spark.sql.extensions=graft.GraftExtensions")
}

/** A read-only inspection table (`t.files` / `t.snapshots` /
  * `t.history`) over a graft table's metadata — zero data bytes. */
class GraftMetaTable(tableName: String, val kind: String,
    val root: String, val spec: PartitionSpec)
    extends GraftReadableTable {
  override def name(): String = tableName
  override def schema(): StructType = GraftMetaTable.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def buildRead(spark: SparkSession): DataFrame = kind match {
    case "files" => SpecManifest.filesMetadata(spark, root, spec)
    case "snapshots" => SpecManifest.snapshotsMetadata(spark, root)
    case "history" => SpecManifest.historyMetadata(spark, root)
  }
}

object GraftMetaTable {
  val Kinds = Set("files", "snapshots", "history")
  import org.apache.spark.sql.Encoders
  import graft.engine.SnapshotLog.{FileMeta, HistoryMeta, SnapshotMeta}
  private[sql] def schemaOf(kind: String): StructType = kind match {
    case "files" => Encoders.product[FileMeta].schema
    case "snapshots" => Encoders.product[SnapshotMeta].schema
    case "history" => Encoders.product[HistoryMeta].schema
  }
}

/** Per-table catalog PROPERTIES, persisted as `root/_props` (k=v
  * lines, atomically swapped). One key today:
  * `graft.keep_snapshots` — the snapshot retention every SQL commit
  * path applies (default 2 = current + previous). A CDC stream's
  * restart replay needs its start generation still on disk, so a
  * table that feeds streams sets this to cover the stream's maximum
  * downtime in commits (the Iceberg/Delta retention posture). */
private[graft] object GraftProps {
  val KeepSnapshots = "graft.keep_snapshots"

  private def fs(root: String) = new HPath(root).getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  def all(root: String): Map[String, String] = {
    val p = new HPath(root, "_props")
    val f = fs(root)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      text.linesIterator.filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); k -> v
      }.toMap
    }
  }

  private def render(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n") + "\n"

  def set(root: String, k: String, v: String): Unit = {
    if (k == KeepSnapshots) require(
      scala.util.Try(v.toInt).toOption.exists(_ >= 2),
      s"GraftCatalog: $KeepSnapshots must be an integer >= 2, got '$v'")
    ManifestTable.swapRefPointer(root, "_props", render(all(root) + (k -> v)))
  }

  def remove(root: String, k: String): Unit =
    ManifestTable.swapRefPointer(root, "_props", render(all(root) - k))

  def keepSnapshots(root: String): Int =
    all(root).get(KeepSnapshots).map(_.toInt).getOrElse(2)
}

/** One named graft table: schema = the DATA columns (partition fields
  * are hidden layout, the Iceberg posture); `pinnedSnapshot` carries a
  * time-travel pin. Reads never go through `newScanBuilder` — the
  * analyzer substitutes the pinned Scala reader ([[GraftSqlRules]]);
  * writes ride the V1 bridge into leaf-scoped snapshot commits. */
class GraftSqlTable(tableName: String, val root: String,
    val spec: PartitionSpec, val dataSchema: StructType,
    val pinnedSnapshot: Option[String])
    extends GraftReadableTable with SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = dataSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC)

  override def partitioning(): Array[Transform] =
    spec.fields.map { f =>
      f.transform match {
        case Identity => Expressions.identity(f.source)
        case Year => Expressions.years(f.source)
        case Month => Expressions.months(f.source)
        case Day => Expressions.days(f.source)
        case Bucket(n) => Expressions.bucket(n, f.source)
        case Truncate(w) => Expressions.apply("truncate",
          Expressions.literal(w), Expressions.column(f.source))
      }
    }.toArray

  /** Snapshot retention every SQL commit on this table applies
    * ([[GraftProps.KeepSnapshots]]; default 2). */
  lazy val keepSnapshots: Int = GraftProps.keepSnapshots(root)

  override def properties(): util.Map[String, String] =
    (Map("format" -> "graft", "root" -> root) ++
      GraftProps.all(root)).asJava

  /** The pinned Scala reader this table's SQL reads substitute onto:
    * data columns only (partition fields stay hidden), empty-but-typed
    * before the first commit. */
  override def buildRead(spark: SparkSession): DataFrame = {
    val dataCols = dataSchema.fieldNames.toSeq
    if (SpecManifest.currentSnapshot(spark, root).isEmpty)
      spark.createDataFrame(
        new util.ArrayList[Row](), dataSchema)
    else SpecManifest.read(spark, root, spec, pinnedSnapshot,
      Some(dataSchema)).select(dataCols.map(col): _*)
  }

  /** Like [[buildRead]] but KEEPING the partition-field columns — the
    * leaf-local DML planners filter on them so the pin's partition
    * pruning bounds the target scan. Requires a committed snapshot. */
  def buildReadWithParts(spark: SparkSession): DataFrame =
    SpecManifest.read(spark, root, spec, pinnedSnapshot,
      Some(dataSchema))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
      // "append" | "truncate" (static INSERT OVERWRITE: the whole
      // table) | "dynamic" (replace only the leaves the data derives)
      private var mode = "append"
      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "dynamic"; this
      }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame,
                ignored: Boolean): Unit =
              GraftSqlWrites.insert(data.sparkSession, GraftSqlTable.this,
                data, mode)
          }
      }
    }
}

/** Write-side routing: INSERT INTO / INSERT OVERWRITE / the command
  * bodies of MERGE, DELETE, UPDATE — all land as LEAF-SCOPED snapshot
  * commits through the existing engine (bytes rewritten scale with the
  * touched leaves, never the table). */
object GraftSqlWrites {

  /** OPTIMISTIC-CONCURRENCY retry loop for copy-on-write DML: the body
    * captures the table's current snapshot, computes replacement
    * frames against it, and commits with the conflict guard; when a
    * racing committer moved the table first, the whole body re-runs
    * against the fresh base (bounded attempts, then loud). Merge-on-
    * read commits need no guard — commitMerge re-binds deltas to the
    * fresh base under the lock by design. */
  def withConflictRetry[A](what: String, attempts: Int = 5)(f: => A): A = {
    var i = 0
    while (true) {
      try return f
      catch {
        case e: SpecManifest.ConcurrentCommitException =>
          i += 1
          if (i >= attempts) throw new IllegalStateException(
            s"graft $what: lost the commit race $attempts times - " +
              "giving up", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Align `df` to the table's data schema: column order, names and
    * TYPES — writers never land a frame whose physical types drift
    * from the catalog schema (assignment and VALUES expressions may
    * carry narrower or wider literals), and a column the frame
    * PREDATES (a leaf read from before an ADD COLUMN) serves as a
    * typed NULL. */
  def alignData(df: DataFrame, schema: StructType,
      fromFiles: Boolean = false): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      // a frame read straight off files (fromFiles) spells a RENAMED
      // column by its PHYSICAL name; a user/engine-built frame spells
      // it logically. The caller states which — guessing would be
      // ambiguous when one field's logical name equals another's
      // physical (the classic rename-swap migration).
      val n = if (fromFiles) GraftSchemas.physicalName(f) else f.name
      if (!df.columns.contains(n))
        org.apache.spark.sql.functions.lit(null).cast(f.dataType)
          .as(f.name)
      else if (df.schema(n).dataType == f.dataType) col(n).as(f.name)
      else col(n).cast(f.dataType).as(f.name)
    }: _*)

  /** The write-side inverse: a LOGICAL-named frame renamed to the
    * PHYSICAL column spellings before bytes land (files always carry
    * physical names, so leaves stay uniform across renames). */
  def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    if (!GraftSchemas.hasRenames(schema)) df
    else df.select(schema.fields.toSeq.map(f =>
      col(f.name).as(GraftSchemas.physicalName(f))): _*)

  /** Distinct derived leaf tuples of `rows` (leaf-count-bounded
    * driver collect — the SpecTableSink posture). */
  private def leavesOf(rows: DataFrame,
      spec: PartitionSpec): Seq[Seq[String]] = {
    val tagged = spec.fields.foldLeft(rows)((d, f) =>
      d.withColumn(f.name, f.derived))
    tagged.select(spec.names.map(col): _*).distinct().collect()
      .map(r => spec.names.indices.map(i => r.getString(i)))
  }

  /** [[leavesOf]] fused with an any-row-satisfies probe: ONE
    * aggregation job serves both the distinct leaf tuples and whether
    * `flag` holds anywhere (the mg.touched fusion — a separate isEmpty
    * probe over the same frame would be a second full job). */
  private[sql] def leavesAndFlag(rows: DataFrame, spec: PartitionSpec,
      flag: org.apache.spark.sql.Column)
      : (Seq[Seq[String]], Boolean) = {
    val tagged = spec.fields.foldLeft(rows)((d, f) =>
      d.withColumn(f.name, f.derived))
    val agg = tagged.groupBy(spec.names.map(col): _*)
      .agg(org.apache.spark.sql.functions.max(flag).as("_graft_flag"))
      .collect()
    (agg.toSeq.map(r => spec.names.indices.map(r.getString)),
      agg.exists(r => !r.isNullAt(spec.names.length) &&
        r.getBoolean(spec.names.length)))
  }

  private def leafRows(rows: DataFrame, spec: PartitionSpec,
      vs: Seq[String]): DataFrame = {
    val dataCols = rows.columns.toSeq
    val tagged = spec.fields.foldLeft(rows)((d, f) =>
      d.withColumn(f.name, f.derived))
    spec.names.zip(vs).foldLeft(tagged) { case (d, (n, v)) =>
      d.where(col(n) === v)
    }.select(dataCols.map(col): _*)
  }

  /** INSERT semantics by `mode`:
    *   - "append" (INSERT INTO): union the incoming rows into their
    *     derived leaves' current content (copy-on-write,
    *     touched-leaf-scoped);
    *   - "truncate" (static INSERT OVERWRITE): every existing leaf
    *     empties unless re-filled by the incoming rows;
    *   - "dynamic" (dynamic-partition INSERT OVERWRITE): only the
    *     leaves the data derives are replaced — the natural overwrite
    *     for a partitioned format at scale.
    * First insert bootstraps the table's first snapshot; all modes are
    * ONE atomic snapshot commit. */
  def insert(spark: SparkSession, table: GraftSqlTable, data: DataFrame,
      mode: String): Unit = {
    val spec = table.spec
    val aligned = alignData(data, table.dataSchema).localCheckpoint()
    withConflictRetry(s"INSERT into ${table.name()}") {
      insertOnce(spark, table, aligned, mode)
    }
  }

  private def insertOnce(spark: SparkSession, table: GraftSqlTable,
      aligned: DataFrame, mode: String): Unit = {
    val spec = table.spec
    val base = SpecManifest.currentSnapshot(spark, table.root)
    val incomingLeaves = leavesOf(aligned, spec)
    val existing: Set[Seq[String]] =
      if (base.isEmpty) Set.empty
      else SpecManifest.leafKeys(spark, table.root, spec).toSet
    // ONE-PASS staging: the incoming frame is scanned once with its
    // leaf columns DERIVED (a per-leaf Map would re-filter the whole
    // frame once per leaf — O(L·N), the w29 INSERT hot stage);
    // append-mode existing content joins the union pinned to its
    // physical leaf by LITERAL tags (per-leaf file reads — linear).
    val incTagged = tagDerived(toPhysical(aligned, table.dataSchema),
      spec, table.dataSchema)
    val (data: DataFrame, touched: Seq[Seq[String]]) = mode match {
      case "truncate" =>
        (incTagged, (existing ++ incomingLeaves).toSeq)
      case "dynamic" => (incTagged, incomingLeaves)
      case _ =>
        // existing content aligns to the CURRENT schema first: a leaf
        // written before an ADD COLUMN / type widening unions cleanly
        val olds = incomingLeaves.filter(existing.contains).map { vs =>
          tagLiterals(toPhysical(alignData(
            SpecManifest.readLeaf(spark, table.root, spec, vs),
            table.dataSchema, fromFiles = true), table.dataSchema),
            spec, vs)
        }
        ((incTagged +: olds).reduce(_.unionByName(_)), incomingLeaves)
    }
    if (touched.nonEmpty)
      SpecManifest.commitSnapshotTagged(spark, table.root, spec,
        Some(data), touched,
        keepSnapshots = table.keepSnapshots,
        expectedBase = Some(base))
  }

  /** `df` (data columns only) with the spec partition columns DERIVED
    * from its rows — the one-pass staging tag for rows routed by
    * value. A data column sharing a spec field's name is replaced,
    * exactly as the per-leaf Map spelling excluded it from dataCols. */
  private def tagDerived(df: DataFrame, spec: PartitionSpec,
      dataSchema: StructType): DataFrame = {
    // derivations reference LOGICAL source names; files spell physical
    val physOf = dataSchema.fields.map(f =>
      f.name -> GraftSchemas.physicalName(f)).toMap
    spec.fields.foldLeft(df)((d, f) =>
      d.withColumn(f.name,
        f.derive(col(physOf.getOrElse(f.source, f.source))).as(f.name)))
  }

  /** `df` (data columns only) with the spec partition columns attached
    * as LITERALS — the one-pass staging tag for rows pinned to the
    * physical leaf they were read from. */
  private def tagLiterals(df: DataFrame, spec: PartitionSpec,
      vs: Seq[String]): DataFrame =
    spec.names.zip(vs).foldLeft(df) { case (d, (n, v)) =>
      d.withColumn(n, org.apache.spark.sql.functions.lit(v))
    }

  /** The table's rows restricted to `leaves` — an OR-of-conjunctions
    * predicate over the PARTITION columns, so the pin prunes to
    * exactly those leaves at planning time (leaf-count-bounded
    * predicate size; callers cap the leaf count). The bucket-local
    * MERGE planner's target side. */
  def restrictToLeaves(spark: SparkSession, table: GraftSqlTable,
      leaves: Seq[Seq[String]]): DataFrame = {
    val withParts = table.buildReadWithParts(spark)
    val pred = leaves.map(vs =>
      table.spec.names.zip(vs).map { case (n, v) =>
        col(n) === org.apache.spark.sql.functions.lit(v)
      }.reduce(_ && _))
      .reduceOption(_ || _)
      .getOrElse(org.apache.spark.sql.functions.lit(false))
    withParts.filter(pred)
      .select(table.dataSchema.fieldNames.toSeq.map(col): _*)
  }

  /** Per-leaf REPLACEMENT commit for the DML commands: `newContent`
    * maps each touched leaf to its full new rows. */
  def replaceLeaves(spark: SparkSession, table: GraftSqlTable,
      newContent: Map[Seq[String], DataFrame],
      expectedBase: Option[Option[String]] = None): Unit =
    if (newContent.nonEmpty)
      SpecManifest.commitSnapshot(spark, table.root, table.spec,
        newContent.map { case (vs, df) =>
          vs -> toPhysical(alignData(df, table.dataSchema),
            table.dataSchema) },
        keepSnapshots = table.keepSnapshots,
        expectedBase = expectedBase)

  /** One-pass variant of [[replaceLeaves]]: `data` carries the LOGICAL
    * data columns plus the spec partition columns as STRING tags
    * (derived for value-routed rows, literal for rows pinned to the
    * physical leaf they were read from). The per-leaf-Map spelling
    * evaluates each leaf's frame as its own union arm, so a shared
    * source (a checkpointed affected/removed frame) is re-scanned once
    * per leaf; here every source is scanned once. Alignment + physical
    * renames apply to the data columns only, tags pass through. */
  def replaceLeavesTagged(spark: SparkSession, table: GraftSqlTable,
      data: DataFrame, touched: Seq[Seq[String]],
      expectedBase: Option[Option[String]] = None): Unit =
    if (touched.nonEmpty) {
      val alignedTagged = data.select(
        table.dataSchema.fields.toSeq.map { f =>
          val c =
            if (!data.columns.contains(f.name))
              org.apache.spark.sql.functions.lit(null).cast(f.dataType)
            else if (data.schema(f.name).dataType == f.dataType)
              col(f.name)
            else col(f.name).cast(f.dataType)
          c.as(GraftSchemas.physicalName(f))
        } ++ table.spec.names.map(col): _*)
      SpecManifest.commitSnapshotTagged(spark, table.root, table.spec,
        Some(alignedTagged), touched,
        keepSnapshots = table.keepSnapshots,
        expectedBase = expectedBase)
    }

  /** The spec partition columns DERIVED from `df`'s (logical) data
    * columns — the value-routing tag for [[replaceLeavesTagged]]. */
  private[sql] def tagDerivedLogical(df: DataFrame,
      spec: PartitionSpec): DataFrame =
    spec.fields.foldLeft(df)((d, f) => d.withColumn(f.name, f.derived))

  /** The spec partition columns attached as LITERALS — the
    * physical-leaf pin for [[replaceLeavesTagged]]. */
  private[sql] def tagLiteralsOf(df: DataFrame, spec: PartitionSpec,
      vs: Seq[String]): DataFrame =
    spec.names.zip(vs).foldLeft(df) { case (d, (n, v)) =>
      d.withColumn(n, org.apache.spark.sql.functions.lit(v))
    }

  private[sql] def leavesOfRows(rows: DataFrame,
      spec: PartitionSpec): Seq[Seq[String]] = leavesOf(rows, spec)

  private[sql] def rowsOfLeaf(rows: DataFrame, spec: PartitionSpec,
      vs: Seq[String]): DataFrame = leafRows(rows, spec, vs)
}
