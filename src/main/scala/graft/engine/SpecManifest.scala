package graft.engine

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MULTI-COLUMN / HIDDEN partitioning on the manifest pointer model —
  * the Iceberg partition-SPEC contract: a 100 TB table usually keys on
  * (time-bucketed ingest column, hash bucket of the join key), e.g.
  * `(year(o_orderdate), bucket(4, o_custkey))`, and the WRITER derives
  * the partition values from source columns (readers never supply
  * them; a helper turns source predicates into partition filters —
  * hidden partitioning).
  *
  * Layout: one [[ManifestTable]] pointer per LEAF —
  *
  * {{{
  *   root/_spec                    (the serialized partition spec)
  *   root/y=1994/b=2/MANIFEST      -> names root/y=1994/b=2/v000001-x/
  *   root/_snapshots/s000001-x     lines: `y=1994/b=2<TAB>v000001-x`
  * }}}
  *
  * The root `MANIFEST`, `_snapshots/`, `_refs/` and `_branches/` are
  * owned by [[SnapshotLog]], shared with the single-column
  * [[PartitionedManifest]]; here a snapshot key is a leaf path
  * `y=…/b=…`. A leaf flips old→new in one pointer swap, a multi-leaf
  * delta becomes visible in ONE root snapshot rename, and tags,
  * branches, rollback, expiry and the orphan sweep are the shared
  * ones. CDC diffs only the leaves whose version directory moved.
  * Reads serve through a content-pinned catalog relation with ALL
  * partition columns (one plan node, PartitionFilters pruning on each
  * level — plan-asserted in w22). On top of the log this layout owns
  * its seed, reads, hidden pruning, spec EVOLUTION and zone-map
  * analyze; merge-on-read commits, leaf fold-down and layout rewrite
  * are [[MergeOnRead]]'s, keyed per leaf.
  */
object SpecManifest extends MergeOnRead {

  /** Partition transforms (the Iceberg set, minus the ones the corpus
    * does not exercise). All derived values render as STRINGS — they
    * live in directory names. */
  sealed trait Transform { def render: String }
  case object Identity extends Transform { val render = "identity" }
  /** Murmur3-hash bucket (Spark's `hash`, seed 42 — stable across a
    * Spark major; a cross-engine reader re-derives through Spark). */
  final case class Bucket(n: Int) extends Transform {
    require(n > 0); val render = s"bucket[$n]"
  }
  /** Numeric width-truncate: v - (v mod w). */
  final case class Truncate(w: Long) extends Transform {
    require(w > 0); val render = s"truncate[$w]"
  }
  case object Day extends Transform { val render = "day" }
  case object Month extends Transform { val render = "month" }
  case object Year extends Transform { val render = "year" }

  object Transform {
    def parse(s: String): Transform = s match {
      case "identity" => Identity
      case "day" => Day
      case "month" => Month
      case "year" => Year
      case b if b.startsWith("bucket[") =>
        Bucket(b.stripPrefix("bucket[").stripSuffix("]").toInt)
      case t if t.startsWith("truncate[") =>
        Truncate(t.stripPrefix("truncate[").stripSuffix("]").toLong)
      case other => sys.error(s"SpecManifest: unknown transform $other")
    }
  }

  /** One spec field: partition column `name` derived from source
    * column `source` via `transform`. */
  final case class PartField(name: String, source: String,
      transform: Transform) {
    def derive(c: Column): Column = transform match {
      case Identity => c.cast("string")
      case Bucket(n) => pmod(hash(c), lit(n)).cast("string")
      case Truncate(w) => (c - pmod(c, lit(w))).cast("long").cast("string")
      case Day => date_format(c, "yyyy-MM-dd")
      case Month => date_format(c, "yyyy-MM")
      case Year => date_format(c, "yyyy")
    }
    def derived: Column = derive(col(source)).as(name)
  }

  final case class PartitionSpec(fields: Seq[PartField]) {
    require(fields.nonEmpty && fields.map(_.name).distinct.size ==
      fields.size, "SpecManifest: spec fields must be uniquely named")
    def names: Seq[String] = fields.map(_.name)
    def render: String = fields.map(f =>
      s"${f.name}\t${f.source}\t${f.transform.render}").mkString("\n")
    /** One-line render safe for a table-property value (identifier
      * charset + `[]:;` only). */
    def renderCompact: String = fields.map(f =>
      s"${f.name}:${f.source}:${f.transform.render}").mkString(";")
  }

  object PartitionSpec {
    def parse(s: String): PartitionSpec = PartitionSpec(
      s.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(n, src, t) = l.split("\t", 3)
        PartField(n, src, Transform.parse(t))
      }.toSeq)
  }

  /** Inverse of [[PartitionSpec.renderCompact]]. */
  def parseCompact(s: String): PartitionSpec = PartitionSpec(
    s.split(";").toSeq.filter(_.nonEmpty).map { f =>
      val Array(n, src, t) = f.split(":", 3)
      PartField(n, src, Transform.parse(t))
    })

  protected def logName = "SpecManifest"
  protected def keysNoun = "leaves"

  private val SpecFile = "_spec"
  private val SpecsDir = "_specs"

  /** `y=1994/b=2` — the snapshot-file key AND the leaf's relative
    * path. */
  private def leafPath(spec: PartitionSpec, values: Seq[String]): String = {
    require(values.length == spec.fields.length,
      s"SpecManifest: expected ${spec.fields.length} values, got $values")
    spec.fields.zip(values).map { case (f, v) =>
      s"${f.name}=${checkPartValue(v)}" }.mkString("/")
  }

  /** The stored spec (readers' authority — a caller-supplied spec must
    * match it, or two writers could disagree on the table's shape). */
  def readSpec(spark: SparkSession, root: String): PartitionSpec = {
    PartitionSpec.parse(
      SnapshotLog.readUtf8(fsOf(spark, root), new HPath(root, SpecFile)))
  }

  /** All spec versions, oldest first — v1 is the seed-time `_spec`;
    * [[evolveSpec]] appends under `_specs/`. */
  def specVersions(spark: SparkSession, root: String): Seq[PartitionSpec] = {
    val fs = fsOf(spark, root)
    val dir = new HPath(root, SpecsDir)
    val later =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith("spec-")).sorted.toSeq.map(n =>
          PartitionSpec.parse(SnapshotLog.readUtf8(fs, new HPath(dir, n))))
    readSpec(spark, root) +: later
  }

  /** PARTITION SPEC EVOLUTION (the Iceberg contract): change how NEW
    * data partitions — e.g. bucket(4) → bucket(8) as the table grows —
    * WITHOUT rewriting a byte of what exists. Old leaves keep their
    * old layout (and stay mergeable/compactable under their own spec);
    * commits of NEW leaves use the evolved spec; [[read]] serves the
    * union with the current spec's fields re-DERIVED from source
    * columns, and the transparent hidden-partition rule prunes each
    * layout generation through its own spec.
    *
    * Name discipline: a field NAME never changes meaning across
    * versions — a field whose (source, transform) differs from any
    * prior same-named field must take a FRESH name (Iceberg's
    * spec-field identity rule; leaf directory names stay unambiguous
    * forever). Returns the new spec's version number. */
  def evolveSpec(spark: SparkSession, root: String,
      newSpec: PartitionSpec): Int = ManifestTable.withPublishLock(root) {
    val versions = specVersions(spark, root)
    require(newSpec != versions.last,
      "SpecManifest: the new spec is already current")
    val priorMeaning: Map[String, (String, String)] =
      versions.flatMap(_.fields)
        .map(f => f.name -> (f.source, f.transform.render)).toMap
    newSpec.fields.foreach { f =>
      priorMeaning.get(f.name).foreach { case (src, tr) =>
        require(src == f.source && tr == f.transform.render,
          s"SpecManifest: field '${f.name}' already means $src/$tr - " +
            "a changed source or transform needs a FRESH field name")
      }
    }
    val gen = versions.length + 1
    ManifestTable.writeOnce(root, f"$SpecsDir/spec-$gen%05d",
      newSpec.render + "\n")
    gen
  }

  /** The spec version a leaf was written under, recovered from its
    * path's field names (unambiguous by [[evolveSpec]]'s name rule;
    * newest match wins for identical name sequences). */
  private def specForLeaf(versions: Seq[PartitionSpec],
      leafKey: String): PartitionSpec = {
    val names = leafKey.split("/").toSeq.map(_.split("=", 2)(0))
    versions.reverse.find(_.names == names).getOrElse(sys.error(
      s"SpecManifest: no spec version matches leaf $leafKey " +
        s"(names $names)"))
  }

  private def checkSpec(spark: SparkSession, root: String,
      spec: PartitionSpec): Unit = {
    val versions = specVersions(spark, root)
    require(versions.contains(spec),
      s"SpecManifest: spec mismatch under $root - stored " +
        s"[${versions.map(_.render.replace("\n", "; ")).mkString(" | ")}]" +
        s", got [${spec.render.replace("\n", "; ")}]")
  }

  /** All leaf keys present on disk (depth = spec arity; partition-count
    * bounded metadata listing). */
  def leafKeys(spark: SparkSession, root: String,
      spec: PartitionSpec): Seq[Seq[String]] =
    leafDirs(spark, root, spec).map(_._2).sortBy(_.mkString("/"))

  /** Every `f1=v1/…/fn=vn` directory of `spec`'s shape under `dir`, with
    * its values. */
  private def leafDirs(spark: SparkSession, dir: String,
      spec: PartitionSpec): Seq[(HPath, Seq[String])] = {
    val fs = fsOf(spark, dir)
    def walk(d: HPath, depth: Int): Seq[(HPath, Seq[String])] = {
      val want = s"${spec.fields(depth).name}="
      fs.listStatus(d)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(want))
        .toSeq.flatMap { s =>
          val v = s.getPath.getName.stripPrefix(want)
          if (depth == spec.fields.length - 1) Seq((s.getPath, Seq(v)))
          else walk(s.getPath, depth + 1).map { case (p, vs) =>
            (p, v +: vs) }
        }
    }
    walk(new HPath(dir), 0)
  }

  /** Leaf keys across EVERY spec generation, each with its OWNING spec
    * — an evolved table keeps its old-generation leaves on disk, so
    * maintenance passes (orphan sweeps, rollback guards, ANALYZE) must
    * enumerate them all, not just the current spec's ([[leafKeys]]
    * matches directory names by ONE spec's field names and would skip
    * old layouts entirely). Distinct leaves by construction:
    * [[evolveSpec]]'s field-identity rule keeps every generation's
    * directory names unambiguous. */
  def allLeaves(spark: SparkSession, root: String)
      : Seq[(PartitionSpec, Seq[String])] =
    specVersions(spark, root).flatMap { sp =>
      leafKeys(spark, root, sp).map(vs => (sp, vs))
    }

  /** SEED: derive the partition columns, write the whole frame
    * hive-partitioned by ALL spec fields in ONE rebalanced job, adopt
    * each leaf directory as version 1 of its own pointer root (renames,
    * zero bytes rewritten), store the spec, and commit snapshot 1. */
  def seed(spark: SparkSession, root: String, df: DataFrame,
      spec: PartitionSpec): String = {
    val scratch = s"$root/.seed-${java.util.UUID.randomUUID.toString.take(8)}"
    writeTagged(spec.fields.foldLeft(df)((d, f) =>
      d.withColumn(f.name, f.derived)), spec.names, scratch)
    // adopt every scratch leaf in place
    val found = leafDirs(spark, scratch, spec)
    require(found.nonEmpty, "SpecManifest: seed produced no partitions")
    found.foreach { case (src, values) =>
      ManifestTable.adoptVersion(s"$root/${leafPath(spec, values)}",
        src.toString)
    }
    fsOf(spark, root).delete(new HPath(scratch), true)
    ManifestTable.writeOnce(root, SpecFile, spec.render + "\n")
    commitSnapshot(spark, root, spec, Map.empty)
  }

  /** Thrown when a [[commitSnapshot]] conflict guard trips: another
    * committer landed between the caller's read and its commit, so the
    * caller's replacement frames were computed from a stale base —
    * re-read and retry (the Iceberg/Delta optimistic-concurrency
    * posture; copy-on-write writers MUST use the guard or a racing
    * commit's rows silently vanish under theirs). */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** Commit a snapshot over leaf-keyed updates (values = the leaf's
    * full replacement rows WITHOUT the partition columns): one
    * hive-partitioned scratch write for the whole delta, per-leaf
    * pointer adoption with pinned-snapshot GC protection, one atomic
    * root snapshot swap. */
  def commitSnapshot(spark: SparkSession, root: String,
      spec: PartitionSpec, updates: Map[Seq[String], DataFrame],
      keepSnapshots: Int = 2,
      expectedBase: Option[Option[String]] = None): String = {
    // Map-of-frames spelling delegates to the one-pass tagged core
    val tagged = unionTagged(spec.names, updates)
    commitSnapshotTagged(spark, root, spec, tagged,
      updates.keys.toSeq, keepSnapshots, expectedBase)
  }

  /** One-pass variant of [[commitSnapshot]] for callers whose
    * replacement rows all come from ONE frame: `data` carries the leaf
    * data columns PLUS the spec partition columns (string-typed, as
    * [[PartField.derive]] renders them — derived for rows routed by
    * value, literal for rows pinned to a physical leaf), and `touched`
    * lists every leaf this commit replaces. The per-leaf-Map spelling
    * evaluates each leaf's frame as its own union arm, so L leaves
    * re-scan a shared source L times (O(L·N) — the w29 INSERT profile:
    * 28 arms × a 15 MB checkpoint = 420 MB read, 35 s of CPU for one
    * staging write); here the source is scanned ONCE and the
    * partitionBy write routes rows to their leaf dirs (guide §1.2,
    * §2.4). A touched leaf with no rows in `data` publishes an empty
    * version, exactly as an empty per-leaf frame did. */
  def commitSnapshotTagged(spark: SparkSession, root: String,
      spec: PartitionSpec, data: Option[DataFrame],
      touched: Seq[Seq[String]],
      keepSnapshots: Int = 2,
      expectedBase: Option[Option[String]] = None): String = {
    require(keepSnapshots >= 2, "keepSnapshots must be >= 2")
    ManifestTable.withPublishLock(root) {
      // CONFLICT GUARD, first thing under the lock: the caller states
      // which snapshot its replacement frames were computed from
      expectedBase.foreach { expected =>
        val cur = currentSnapshot(spark, root)
        if (cur != expected)
          throw new ConcurrentCommitException(
            s"SpecManifest: a concurrent commit moved $root from " +
              s"$expected to $cur - recompute against the new base " +
              "and retry")
      }
      val fs = fsOf(spark, root)
      // create-table-on-first-commit: a fresh root adopts the writer's
      // spec as v1 (the streaming sink's bootstrap path); an existing
      // root validates the spec against the stored versions as always
      if (!fs.exists(new HPath(root, SpecFile)))
        ManifestTable.writeOnce(root, SpecFile, spec.render + "\n")
      checkSpec(spark, root, spec)
      val base = baseMappingLocked(spark, root, identity,
        () => leafKeys(spark, root, spec).map(leafPath(spec, _)))
      // spec evolution: creating a NEW leaf is reserved to the CURRENT
      // spec (old layouts stay mergeable but never grow new leaves)
      val versions = specVersions(spark, root)
      if (spec != versions.last) {
        val fresh = touched.map(vs => leafPath(spec, vs))
          .filterNot(lp => base.contains(lp) ||
            ManifestTable.currentVersion(s"$root/$lp").isDefined)
        require(fresh.isEmpty,
          s"SpecManifest: new leaves (${fresh.mkString(",")}) must use " +
            "the CURRENT spec version")
      }
      val written: Map[String, String] =
        if (data.isEmpty || touched.isEmpty) Map.empty
        else {
          val df = data.get
          val scratch = s"$root/.commit-${SnapshotLog.uuid8()}"
          writeTagged(df, spec.names, scratch)
          try adoptLeavesLocked(spark, root, Some(scratch),
            touched.map(leafPath(spec, _)).distinct.sorted, keepSnapshots,
            identity,
            _ => df.select(df.columns.filterNot(spec.names.contains)
              .map(col): _*).limit(0))
          finally fs.delete(new HPath(scratch), true)
        }
      val mapping = (base ++ written).toSeq.sortBy(_._1)
      require(mapping.nonEmpty, "SpecManifest: nothing to commit")
      writeSnapshotLocked(spark, root, mapping, keepSnapshots)
    }
  }

  /** Commit to a BRANCH ([[SnapshotLog]]'s write-audit-publish): leaf
    * version dirs are STAGED (leaf pointers never move — live readers
    * cannot see branch data) and only the branch pointer advances.
    * Branch commits may touch EXISTING leaves only. */
  def commitSnapshotToBranch(spark: SparkSession, root: String,
      spec: PartitionSpec, updates: Map[Seq[String], DataFrame],
      branch: String, keepSnapshots: Int = 2): String = {
    checkSpec(spark, root, spec)
    val valuesOf = updates.keys.map(vs => leafPath(spec, vs) -> vs).toMap
    commitToBranch(spark, root, branch, valuesOf.keys.toSeq, keepSnapshots,
      identity, None,
      () => {
        val scratch = s"$root/.branch-${SnapshotLog.uuid8()}"
        writeTagged(unionTagged(spec.names, updates).get, spec.names,
          scratch)
        scratch
      },
      lp => updates(valuesOf(lp)).select(updates.head._2.columns
        .filterNot(spec.names.contains).map(col): _*).limit(0))
  }

  /** PUBLISH a branch: fast-forward main to its head in one metadata
    * operation (see [[SnapshotLog]]). */
  def fastForward(spark: SparkSession, root: String,
      spec: PartitionSpec, branch: String): String = {
    checkSpec(spark, root, spec)
    fastForwardBranch(spark, root, branch, identity)
  }

  /** ROLLBACK to a kept snapshot or tag as a NEW forward commit,
    * metadata-only (see [[SnapshotLog]]). The created-after guard spans
    * EVERY spec generation: an old-generation leaf created between the
    * target and a later evolution would otherwise escape it. */
  def rollback(spark: SparkSession, root: String, spec: PartitionSpec,
      toSnap: String, keepSnapshots: Int = 2): String = {
    checkSpec(spark, root, spec)
    rollbackTo(spark, root, toSnap, keepSnapshots, identity,
      () => allLeafPaths(spark, root))
  }

  /** ORPHAN cleanup ([[SnapshotLog]]'s sweep) under the root and every
    * LEAF root of EVERY spec generation: an evolved table's old-layout
    * leaves still hold live data and can still strand scratch and
    * unreferenced version dirs. Returns the deleted paths. */
  def cleanOrphans(spark: SparkSession, root: String,
      spec: PartitionSpec, graceMs: Long = 24L * 3600 * 1000)
      : Seq[String] = {
    checkSpec(spark, root, spec)
    sweepOrphans(spark, root, graceMs, identity,
      () => allLeafPaths(spark, root))
  }

  private def allLeafPaths(spark: SparkSession, root: String): Seq[String] =
    allLeaves(spark, root).map { case (sp, vs) => leafPath(sp, vs) }.distinct

  /** Read a snapshot (default: current) through a content-pinned
    * catalog relation carrying ALL spec fields as partition columns —
    * one plan node, PartitionFilters pruning on every level. The pin
    * carries the zone-map property, so file skipping composes below
    * partition pruning here too.
    *
    * Merge-on-read leaves (bounded by [[compactLeaves]] cadence) each
    * resolve their delta chain and union on top of the pinned pure
    * subset — the common all-pure case keeps its ONE plan node. */
  def read(spark: SparkSession, root: String, spec: PartitionSpec,
      snapshot: Option[String] = None,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val versions = specVersions(spark, root)
    require(versions.contains(spec) && spec == versions.last,
      s"SpecManifest: read serves the CURRENT spec under $root - " +
        s"current is [${versions.last.render.replace("\n", "; ")}]")
    val snap = snapshot.orElse(currentSnapshot(spark, root)).getOrElse(
      sys.error(s"SpecManifest: no snapshot committed under $root"))
    val mapping = snapshotMapping(spark, root, snap)
    require(mapping.nonEmpty, s"SpecManifest: empty snapshot $snap")
    val (morLs, pureLs) = mapping.partition { case (k, d) =>
      isMorDir(spark, s"$root/$k/$d") }
    // files spell RENAMED columns by their PHYSICAL (creation-time)
    // names: serve physically, alias to the logical names at the end
    val physDecl = dataSchema.map(graft.sql.GraftSchemas.physicalSchema)
    val served = if (versions.size == 1) {
      val pureDf =
        if (pureLs.isEmpty) None
        else Some(servePin(spark, root, spec, pureLs, physDecl))
      // K hot MOR leaves serve through ONE grouped resolution (plan
      // width scales with chain depth, never K) with the spec fields
      // recovered from the leaf directory paths
      val morDf =
        if (morLs.isEmpty) None
        else Some(alignMaybe(resolveMorGrouped(spark,
          morLs.map { case (k, d) => (s"$root/$k", d) }, spec.names,
          None), physDecl, spec.names))
      (pureDf.toSeq ++ morDf.toSeq).reduce(_.unionByName(_))
    } else {
      // EVOLVED table: each layout generation serves through its OWN
      // pin (so the hidden-partition rule prunes each through its own
      // spec); the output shape is data columns + the CURRENT spec's
      // fields. A current field a generation ALSO partitions on keeps
      // its stored partition column (a filter on it still prunes that
      // pin); a field the generation predates is re-DERIVED from its
      // source column (row-level only there — the hidden rule prunes
      // it through the source predicate instead). Partition values
      // are layout, never data, so readers get one stable shape.
      val pins = pureLs
        .groupBy { case (k, _) => specForLeaf(versions, k) }.toSeq
        .sortBy(_._1.names.mkString("/"))
        .map { case (sp, ls) =>
          val df = servePin(spark, root, sp, ls, physDecl)
          val missing = spec.fields.filterNot(sp.fields.contains)
          val dropNames = sp.names
            .filterNot(n => spec.fields.exists(f =>
              f.name == n && sp.fields.contains(f)))
          missing.foldLeft(df.drop(dropNames: _*))((d, f) =>
            d.withColumn(f.name, f.derived))
        }
      // MOR leaves group per GENERATION (one grouped resolution per
      // spec version with chains, arms = generations × depth); the
      // stored partition fields drop and the CURRENT spec's fields
      // re-derive from source columns, like the pure pins above
      val mors = morLs
        .groupBy { case (k, _) => specForLeaf(versions, k) }.toSeq
        .sortBy(_._1.names.mkString("/"))
        .map { case (sp, ls) =>
          val df = alignMaybe(resolveMorGrouped(spark,
            ls.map { case (k, d) => (s"$root/$k", d) }, sp.names, None)
            .drop(sp.names: _*), physDecl, Seq.empty)
          spec.fields.foldLeft(df)((x, f) =>
            x.withColumn(f.name, f.derived))
        }
      (pins ++ mors).reduce(_.unionByName(_))
    }
    dataSchema match {
      case Some(ds) if graft.sql.GraftSchemas.hasRenames(ds) =>
        served.select(ds.map(f =>
          col(graft.sql.GraftSchemas.physicalName(f)).as(f.name)) ++
          spec.names.map(col): _*)
      case _ => served
    }
  }

  /** Align a frame to a DECLARED data schema when one is given (the
    * SQL catalog's evolved-schema reads): missing columns serve as
    * typed NULLs, physically narrower columns widen — the row-level
    * twin of the declared-schema parquet pin, for the MOR-resolved
    * subsets that don't serve through a pin. `keep` columns (partition
    * fields) pass through untouched. */
  private def alignMaybe(df: DataFrame,
      declared: Option[org.apache.spark.sql.types.StructType],
      keep: Seq[String]): DataFrame = declared match {
    case None => df
    case Some(schema) =>
      df.select(schema.fields.toSeq.map { f =>
        if (!df.columns.contains(f.name))
          lit(null).cast(f.dataType).as(f.name)
        else if (df.schema(f.name).dataType == f.dataType) col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      } ++ keep.map(col): _*)
  }

  /** The pin's name: content hash of the leaf mapping plus (when the
    * caller declares one) the served schema — an ALTER TABLE must
    * never reuse a pin built for the previous schema. */
  private def pinName(root: String, mapping: Seq[(String, String)],
      declared: Option[org.apache.spark.sql.types.StructType]): String =
    s"graft_sm_${SnapshotLog.hash8(root)}_" + SnapshotLog.hash8(
      mapping.map { case (k, d) => s"$k\t$d" }.mkString("\n") +
        declared.map(s => "\n#schema=" + s.json).getOrElse(""))

  /** The PURE subset of a snapshot's leaves served through one
    * content-pinned partitioned relation (see [[read]]). With a
    * DECLARED schema the pin serves it directly: the Spark 4 parquet
    * reader null-fills missing columns and widens
    * int8/16/32→int64/float64, float32→float64 (SPARK-40876), so
    * schema evolution stays metadata-only down to the scan. */
  private def servePin(spark: SparkSession, root: String,
      spec: PartitionSpec, mapping: Seq[(String, String)],
      declared: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val table = pinName(root, mapping, declared)
    if (!spark.catalog.tableExists(table)) {
      val dataSchema = declared.getOrElse(footerSchema(spark,
        s"$root/${mapping.head._1}/${mapping.head._2}"))
      val cols = dataSchema.map(f => s"`${f.name}` ${f.dataType.sql}")
        .mkString(", ")
      val partCols = spec.names.map(n => s"`$n` string").mkString(", ")
      // graft.spec: HiddenPartitionRule derives partition filters from
      // bare source-column equalities over this relation (transparent
      // hidden partitioning); graft.zonemaps: file skipping below.
      // Pin names are content-derived, so a RACING reader creating the
      // same pin built the identical table — losing the create race is
      // benign (the partition adds below are idempotent either way)
      try spark.sql(s"CREATE TABLE `$table` ($cols, $partCols) " +
        s"USING parquet PARTITIONED BY (${spec.names.map(n => s"`$n`")
          .mkString(", ")}) LOCATION '$root' " +
        s"TBLPROPERTIES ('${graft.plans.ZoneMaps.Prop}'='true', " +
        s"'${graft.plans.HiddenPartitions.Prop}'=" +
        s"'${spec.renderCompact}')")
      catch {
        case _: org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException => ()
      }
      val adds = mapping.map { case (k, d) =>
        val specClause = k.split("/").map { seg =>
          val Array(n, v) = seg.split("=", 2)
          s"`$n`='$v'"
        }.mkString(", ")
        s"PARTITION ($specClause) LOCATION '$root/$k/$d'"
      }
      spark.sql(s"ALTER TABLE `$table` ADD IF NOT EXISTS " +
        adds.mkString(" "))
      // drop pins of expired snapshots for this root (keep-N bounded).
      // A snapshot with merge-on-read leaves serves its PURE SUBSET
      // through the pin, so that subset's pin counts as valid too —
      // an EVOLVED table serves one pin per spec generation, so each
      // generation's pure group is valid as well — and a SQL table
      // serves through declared-schema pins, so each group is valid
      // under no declaration, the CURRENT schema, and the schema in
      // effect at that snapshot (time travel).
      val prefix = s"graft_sm_${SnapshotLog.hash8(root)}_"
      val versions = specVersions(spark, root)
      val declaredVariants: String => Seq[Option[
          org.apache.spark.sql.types.StructType]] =
        if (!graft.sql.GraftSchemas.hasVersions(spark, root)) _ => Seq(None)
        else { sn => Seq(None,
          Some(graft.sql.GraftSchemas.physicalSchema(
            graft.sql.GraftSchemas.current(spark, root))),
          Some(graft.sql.GraftSchemas.physicalSchema(
            graft.sql.GraftSchemas.forSnapshot(spark, root, sn))))
        }
      val valid = snapshots(spark, root).flatMap { sn =>
        val m = snapshotMapping(spark, root, sn)
        val pure = m.filterNot { case (k, d) =>
          isMorDir(spark, s"$root/$k/$d") }
        val groups = pure.groupBy { case (k, _) =>
          specForLeaf(versions, k) }.values.toSeq
        for {
          x <- Seq(m, pure) ++ groups if x.nonEmpty
          dv <- declaredVariants(sn)
        } yield pinName(root, x, dv)
      }.toSet + table
      val db = spark.catalog.currentDatabase
      spark.sharedState.externalCatalog.listTables(db)
        .filter(t => t.startsWith(prefix) && !valid.contains(t))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
    graft.plans.ZoneMaps.install(spark)
    graft.plans.HiddenPartitions.install(spark)
    spark.table(table)
  }

  /** HIDDEN partitioning's read-side half: given source-column
    * equality predicates, derive the matching partition values and add
    * the partition filters the user never had to know about — e.g.
    * `o_custkey = 42` also prunes to `b = <bucket(42)>`. Returns the
    * filtered frame (source predicates still applied row-level). */
  def hiddenPrune(spark: SparkSession, df: DataFrame,
      spec: PartitionSpec, equalities: Map[String, Any]): DataFrame = {
    val withPart = spec.fields.filter(f => equalities.contains(f.source))
      .foldLeft(df) { case (d, f) =>
        // derive the partition value of the LITERAL through the same
        // transform expression the writer used (one local row, no job)
        val v = spark.range(1)
          .select(f.derive(lit(equalities(f.source))).as("v"))
          .head().getString(0)
        d.where(col(f.name) === v)
      }
    equalities.foldLeft(withPart) { case (d, (c, v)) =>
      d.where(col(c) === lit(v))
    }
  }

  /** Row-level CDC between two kept snapshots: leaf-dir diff first
    * (untouched leaves are never listed, planned, or read), then an
    * exceptAll multiset diff over only the changed leaves, with every
    * partition value recovered from the directory path. */
  def changesBetween(spark: SparkSession, root: String,
      spec: PartitionSpec, fromSnap: String, toSnap: String,
      changeCol: String = "_change_type"): DataFrame = {
    checkSpec(spark, root, spec)
    val from = snapshotMapping(spark, root, fromSnap).toMap
    val to = snapshotMapping(spark, root, toSnap).toMap
    val changed = (from.keySet ++ to.keySet)
      .filter(k => from.get(k) != to.get(k)).toSeq.sorted
    // per-leaf MOR-resolving reads (a changed leaf may be a delta
    // chain on either side); partition values come from the leaf key.
    // Across spec evolutions changed leaves may carry different field
    // names — the diff emits the union, absent fields as NULL.
    val allNames: Seq[String] = changed
      .flatMap(_.split("/").map(_.split("=", 2)(0))).distinct
    def side(m: Map[String, String]): Option[DataFrame] = {
      val leaves = changed.flatMap(k => m.get(k).map(d => (k, d)))
      if (leaves.isEmpty) None
      else Some(leaves
        // one group per field-name layout (spec generation): pure dirs
        // read as ONE relation, MOR chains resolve through the grouped
        // resolver — plan width is generations × chain depth, never
        // the changed-leaf count
        .groupBy { case (k, _) =>
          k.split("/").toSeq.map(_.split("=", 2)(0)) }
        .toSeq.sortBy(_._1.mkString("/"))
        .map { case (names, ls) =>
          val (mor, pure) = ls.partition { case (k, d) =>
            isMorDir(spark, s"$root/$k/$d") }
          val parts =
            (if (pure.isEmpty) Nil
             else Seq(readDirsWithFields(spark,
               pure.map { case (k, d) => s"$root/$k/$d" }, names))) ++
            (if (mor.isEmpty) Nil
             else Seq(resolveMorGrouped(spark,
               mor.map { case (k, d) => (s"$root/$k", d) }, names,
               None)))
          val df = parts.reduce(_.unionByName(_))
          val dataCols = df.columns.toSeq.filterNot(names.contains)
          allNames.filterNot(names.contains)
            .foldLeft(df)((x, n) =>
              x.withColumn(n, lit(null).cast("string")))
            .select((dataCols.map(col) ++ allNames.map(col)): _*)
        }.reduce(_.unionByName(_)))
    }
    (side(from), side(to)) match {
      case (None, None) =>
        read(spark, root, spec, Some(toSnap)).limit(0)
          .withColumn(changeCol, lit(""))
      case (f, t) =>
        val fDf = f.orElse(t.map(_.limit(0))).get
        val tDf = t.orElse(f.map(_.limit(0))).get
        multisetDiff(tDf, fDf, changeCol)
    }
  }

  // ---------------------------------------------------------------------
  // MERGE-ON-READ ([[MergeOnRead]]) keyed per LEAF: a merge commit writes
  // ONLY the delta under each touched leaf, so bytes written scale with
  // the DELTA, never the leaf — the posture a 100 TB table partitioned on
  // (day, bucket(id)) needs for CDC-style upsert streams into hot
  // (today's) leaves. [[compactLeaves]] is the fold-down.

  /** One leaf's current LOGICAL content (no partition columns) —
    * MOR-resolving; the single-leaf reader merge builders use instead
    * of a raw parquet read of the live version dir. */
  def readLeaf(spark: SparkSession, root: String, spec: PartitionSpec,
      values: Seq[String]): DataFrame = {
    val lp = leafPath(spec, values)
    val dir = ManifestTable.currentVersion(s"$root/$lp").getOrElse(
      sys.error(s"SpecManifest: no MANIFEST under $root/$lp"))
    resolveVersionData(spark, s"$root/$lp", dir, None)
  }

  /** A leaf's PHYSICAL data schema: its live chain's bottom (pure)
    * parquet footer — what [[commitMerge]] validates upserts against.
    * Callers choosing between delta-layering and copy-on-write check
    * it against the catalog schema (a schema-evolved leaf must fold or
    * rewrite before new-shape deltas can layer on it). One footer read
    * per call. */
  def leafBottomSchema(spark: SparkSession, root: String,
      spec: PartitionSpec, values: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    val lp = leafPath(spec, values)
    val dir = ManifestTable.currentVersion(s"$root/$lp").getOrElse(
      sys.error(s"SpecManifest: no MANIFEST under $root/$lp"))
    val bottom = morChain(spark, s"$root/$lp", dir).last
    footerSchema(spark, s"$root/$lp/$bottom")
  }

  /** The key columns of a leaf's LIVE delta chain (None = pure leaf) —
    * callers picking between delta-layering and copy-on-write check
    * compatibility here (chains are uniformly keyed by construction). */
  def leafChainKeys(spark: SparkSession, root: String,
      spec: PartitionSpec, values: Seq[String]): Option[Seq[String]] = {
    val lp = leafPath(spec, values)
    ManifestTable.currentVersion(s"$root/$lp").flatMap(d =>
      chainKeys(spark, s"$root/$lp", d))
  }

  /** MERGE-ON-READ commit over leaf-keyed `upserts` (full-data-schema
    * replacement rows, keyed by `keyCols`) and `deletes` (key rows):
    * each touched leaf gets a new version dir holding only the delta
    * files and a `_mor.tsv` naming its base, and one atomic root
    * snapshot covers the whole delta ([[MergeOnRead]]'s commit). Leaves
    * must exist, every touched leaf's chain-bottom schema must agree
    * and match the upserts, and per leaf the upsert and delete key sets
    * must be disjoint. `onBeforeLock` is the test seam between the
    * lock-free staging and the locked re-bind. Returns the snapshot
    * name. */
  def commitMerge(spark: SparkSession, root: String,
      spec: PartitionSpec, keyCols: Seq[String],
      upserts: Map[Seq[String], DataFrame] = Map.empty,
      deletes: Map[Seq[String], DataFrame] = Map.empty,
      keepSnapshots: Int = 2,
      onBeforeLock: () => Unit = () => ()): String = {
    checkSpec(spark, root, spec)
    def byLeaf(m: Map[Seq[String], DataFrame]): Map[String, DataFrame] =
      m.map { case (vs, df) => leafPath(spec, vs) -> df }
    commitMergeCore(spark, root, identity, spec.names, keyCols,
      byLeaf(upserts), byLeaf(deletes), keepSnapshots, foldChainAt = 0,
      onBeforeLock)
  }

  /** Collect file-level min/max zone maps for `cols` on every LIVE
    * leaf version dir — the single-column layout's `analyzeFileStats`
    * on the composite layout. The content-pinned read relations already
    * carry the zone-map property, so after ANALYZE a PLAIN
    * `read(…).where(range)` prunes files below partition pruning with
    * no helper call (the w21 contract on spec tables). Idempotent per
    * version dir; merge-on-read leaves refuse loudly (fold first —
    * an empty sidecar would silently drop their content on skip).
    * Returns the number of version dirs newly analyzed. */
  def analyzeFileStats(spark: SparkSession, root: String,
      spec: PartitionSpec, cols: Seq[String]): Int = {
    checkSpec(spark, root, spec)
    // every generation's leaves: an evolved table's old-layout leaves
    // hold live data too — skipping them would leave zone maps
    // uncollected there while the returned count suggests full coverage
    allLeafPaths(spark, root).map { lp =>
      val dir = ManifestTable.currentDataDir(s"$root/$lp").getOrElse(
        sys.error(s"SpecManifest: no MANIFEST under $root/$lp"))
      require(!isMorDir(spark, dir),
        s"SpecManifest: leaf $lp is merge-on-read at $dir - analyze " +
          "after compactLeaves() folds the delta chain down")
      if (FileStats.collect(spark, dir, cols) >= 0) 1 else 0
    }.sum
  }

  /** FILE inspection table of a snapshot (see [[SnapshotLog]]);
    * `partition` is the leaf path. */
  def filesMetadata(spark: SparkSession, root: String,
      spec: PartitionSpec, snapshot: Option[String] = None): DataFrame = {
    checkSpec(spark, root, spec)
    filesMetadataOf(spark, root, snapshot, identity)
  }

  /** Fold every merge-on-read leaf back down to a pure data dir — the
    * spec table's compaction pass, OPTIMISTIC ([[MergeOnRead]]'s
    * rewrite loop): the resolve-and-rewrite runs with NO lock held (a
    * minutes-long fold never stalls an ingest commit), pointer identity
    * validates each leaf under the lock, and leaves a concurrent commit
    * touched mid-rewrite retry with a fresh read-set up to
    * `maxAttempts`. Returns (last snapshot, folded leaf paths). */
  def compactLeaves(spark: SparkSession, root: String,
      spec: PartitionSpec, keepSnapshots: Int = 2, maxAttempts: Int = 3,
      onBeforeValidate: () => Unit = () => ()): (String, Seq[String]) = {
    checkSpec(spark, root, spec)
    rewriteLeaves(spark, root, identity, () => allLeafPaths(spark, root),
      _.filter { case (_, dir) => isMorDir(spark, dir) }, None, None,
      keepSnapshots, maxAttempts, "compact", onBeforeValidate)
  }

  /** CLUSTERED / Z-ORDER `OPTIMIZE` on the composite-spec layout: every
    * live leaf is rewritten into `clusterFiles` (or size-derived from
    * `targetBytes`) internally-sorted files, lexicographic on
    * `clusterBy` or Morton-interleaved (`zOrder=true`, exactly two
    * columns), so zone-map file skipping gets DISJOINT ranges to prune
    * against.
    *
    * CONVERGENT: each rewritten version dir is stamped with the layout
    * marker; a leaf already carrying exactly this layout is skipped, so
    * repeated identical calls rewrite nothing. A merge-on-read leaf
    * always re-selects — its delta chain is new unclustered data, and
    * the rewrite is its fold-down. `schema` (the catalog's current
    * PHYSICAL schema, when the table is catalog-managed) converges
    * stale-shaped leaves onto the current shape as they rewrite.
    * Same optimistic loop as [[compactLeaves]]. Returns (snapshot,
    * rewritten leaf paths). */
  def rewriteLayout(spark: SparkSession, root: String,
      spec: PartitionSpec, clusterBy: Seq[String], clusterFiles: Int = 0,
      targetBytes: Long = 128L << 20, zOrder: Boolean = false,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      leafWhere: Option[String] = None,
      keepSnapshots: Int = 2,
      maxAttempts: Int = 3,
      onBeforeValidate: () => Unit = () => ()): (String, Seq[String]) = {
    require(clusterBy.nonEmpty, "rewriteLayout: empty cluster columns")
    require(!zOrder || clusterBy.length == 2,
      "rewriteLayout: zOrder interleaves exactly two columns")
    require(!clusterBy.exists(spec.names.contains),
      "rewriteLayout: cluster columns must be data columns, not " +
        "partition fields")
    checkSpec(spark, root, spec)
    val layout = MergeOnRead.Clustering(clusterBy, clusterFiles,
      targetBytes, zOrder)
    /** Leaves admitted by `leafWhere` — a SQL predicate over the
      * PARTITION FIELD names, evaluated driver-side over the leaf
      * tuples (values are the directory-name STRINGS; leaf-count
      * bounded). The 100 TB posture: layout maintenance runs
      * incrementally per partition predicate ("y = '2025'"), never
      * the whole table per call — Iceberg's rewrite_data_files
      * `where`. */
    def admitted(keys: Seq[String]): Set[String] = leafWhere match {
      case None => keys.toSet
      case Some(w) =>
        // a spec-evolved table keeps OLD-layout leaves (fewer
        // field=value segments than the current spec); a predicate
        // over the current field names cannot judge them — skip them
        // rather than crash, matching the "old layouts stay
        // mergeable" posture (a call without `where` still rewrites
        // everything)
        val rows = keys
          .filter(_.split("/").length == spec.names.length)
          .map { lp =>
            val vs = lp.split("/").toSeq.map(_.split("=", 2)(1))
            org.apache.spark.sql.Row.fromSeq(vs :+ lp)
          }
        val sch = org.apache.spark.sql.types.StructType(
          (spec.names :+ "_graft_leaf").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.StringType)))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          sch).filter(expr(w)).collect()
          .map(_.getString(spec.names.length)).toSet
    }
    rewriteLeaves(spark, root, identity, () => allLeafPaths(spark, root),
      { leaves =>
        val keep = admitted(leaves.map(_._1))
        leaves.filter { case (lp, dir) => keep(lp) &&
          (isMorDir(spark, dir) || !isClusteredAs(spark, dir, layout)) }
      }, schema, Some(layout), keepSnapshots, maxAttempts,
      "rewrite_layout", onBeforeValidate)
  }
}
