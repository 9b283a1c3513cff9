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
  * [[SnapshotLog]]'s; here a snapshot key is a leaf path `y=…/b=…`. A
  * leaf flips old→new in one pointer swap and a multi-leaf delta
  * becomes visible in ONE root snapshot rename. Serving, snapshot
  * commit, CDC, analyze, merge-on-read commits, fold-down and layout
  * rewrites are the ONE table engine of [[MergeOnRead]], which serves
  * the single-column [[PartitionedManifest]] too (as a one-field
  * `identity(partCol)` table); this layout owns the partition spec, its
  * seed, hidden pruning and spec EVOLUTION, and serves every field as a
  * string with no recorded schema (a SQL table declares its own).
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
    * path, values escaped as a `partitionBy` write escapes them. */
  private[graft] def leafPath(spec: PartitionSpec,
      values: Seq[String]): String = {
    require(values.length == spec.fields.length,
      s"SpecManifest: expected ${spec.fields.length} values, got $values")
    spec.fields.zip(values).map { case (f, v) =>
      s"${f.name}=${escapeValue(v)}" }.mkString("/")
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
    leafDirs(spark, root, spec).map(l => leafFields(l._2).map(_._2))
      .sortBy(_.mkString("/"))

  /** Every `f1=v1/…/fn=vn` directory of `spec`'s shape under `dir`, with
    * its path relative to `dir` as the directory names spell it (none
    * under a root not created yet). */
  private def leafDirs(spark: SparkSession, dir: String,
      spec: PartitionSpec): Seq[(HPath, String)] = {
    val fs = fsOf(spark, dir)
    def walk(d: HPath, depth: Int): Seq[(HPath, String)] =
      fs.listStatus(d).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"${spec.fields(depth).name}="))
        .toSeq.flatMap { s =>
          val seg = s.getPath.getName
          if (depth == spec.fields.length - 1) Seq((s.getPath, seg))
          else walk(s.getPath, depth + 1).map { case (p, rel) =>
            (p, s"$seg/$rel") }
        }
    if (fs.exists(new HPath(dir))) walk(new HPath(dir), 0) else Nil
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

  /** The leaf paths of [[allLeaves]], as the directories spell them. */
  private def allLeafPaths(spark: SparkSession, root: String): Seq[String] =
    specVersions(spark, root).flatMap(sp => leafDirs(spark, root, sp)
      .map(_._2)).distinct.sorted

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
    found.foreach { case (src, lp) =>
      ManifestTable.adoptVersion(s"$root/$lp", src.toString)
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
      expectedBase: Option[Option[String]] = None): String =
    commitTagged(spark, root, identity, spec.names, data,
      touched.map(leafPath(spec, _)), keepSnapshots,
      () => leafDirs(spark, root, spec).map(_._2), recordSchema = false,
      { base =>
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
        // create-table-on-first-commit: a fresh root adopts the writer's
        // spec as v1 (the streaming sink's bootstrap path); an existing
        // root validates the spec against the stored versions as always
        if (!fsOf(spark, root).exists(new HPath(root, SpecFile)))
          ManifestTable.writeOnce(root, SpecFile, spec.render + "\n")
        checkSpec(spark, root, spec)
        // spec evolution: creating a NEW leaf is reserved to the CURRENT
        // spec (old layouts stay mergeable but never grow new leaves)
        if (spec != specVersions(spark, root).last) {
          val fresh = touched.map(vs => leafPath(spec, vs))
            .filterNot(lp => base.contains(lp) ||
              ManifestTable.currentVersion(s"$root/$lp").isDefined)
          require(fresh.isEmpty,
            s"SpecManifest: new leaves (${fresh.mkString(",")}) must use " +
              "the CURRENT spec version")
        }
      })

  /** Commit to a BRANCH ([[SnapshotLog]]'s write-audit-publish): leaf
    * version dirs are STAGED (leaf pointers never move — live readers
    * cannot see branch data) and only the branch pointer advances.
    * Branch commits may touch EXISTING leaves only. */
  def commitSnapshotToBranch(spark: SparkSession, root: String,
      spec: PartitionSpec, updates: Map[Seq[String], DataFrame],
      branch: String, keepSnapshots: Int = 2): String = {
    checkSpec(spark, root, spec)
    commitToBranch(spark, root, branch, keepSnapshots, identity, spec.names,
      updates.map { case (vs, df) => leafPath(spec, vs) -> (vs, df) },
      recordSchema = false)
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

  /** Read a snapshot (default: current) through the engine's serving
    * path ([[serveMapping]]): the pure leaves through one content-pinned
    * relation carrying ALL spec fields as partition columns (one plan
    * node, PartitionFilters pruning on every level, zone-map file
    * skipping below, and the hidden-partition rule deriving partition
    * filters from source-column equalities), merge-on-read leaves
    * resolved on top. `dataSchema`, a SQL table's declared schema, is
    * the served schema: the Spark 4 parquet reader null-fills missing
    * columns and widens int8/16/32→int64/float64, float32→float64
    * (SPARK-40876), so schema evolution stays metadata-only down to the
    * scan. */
  def read(spark: SparkSession, root: String, spec: PartitionSpec,
      snapshot: Option[String] = None,
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val versions = specVersions(spark, root)
    require(versions.contains(spec) && spec == versions.last,
      s"SpecManifest: read serves the CURRENT spec under $root - " +
        s"current is [${versions.last.render.replace("\n", "; ")}]")
    val snap = snapOf(spark, root, snapshot)
    val mapping = snapshotMapping(spark, root, snap)
    require(mapping.nonEmpty, s"SpecManifest: empty snapshot $snap")
    // files spell RENAMED columns by their PHYSICAL (creation-time)
    // names: serve physically, alias to the logical names at the end
    val physDecl = dataSchema.map(graft.sql.GraftSchemas.physicalSchema)
    def strings(sp: PartitionSpec) = sp.names.map(_ -> "string")
    val valid = () => validPins(spark, root)
    val served = if (versions.size == 1)
      serveMapping(spark, root, identity, strings(spec), mapping, physDecl,
        Some(spec.renderCompact), valid)
    else {
      // EVOLVED table: each layout generation serves through its OWN
      // pin (so the hidden-partition rule prunes each through its own
      // spec); the output shape is data columns + the CURRENT spec's
      // fields. A current field a generation ALSO partitions on keeps
      // its stored partition column (a filter on it still prunes that
      // pin); a field the generation predates is re-DERIVED from its
      // source column (row-level only there — the hidden rule prunes
      // it through the source predicate instead). Partition values
      // are layout, never data, so readers get one stable shape.
      // Merge-on-read leaves group per generation the same way (one
      // grouped resolution each, arms = generations × depth).
      val (morLs, pureLs) = mapping.partition { case (k, d) =>
        isMorDir(spark, s"$root/$k/$d") }
      def generations(ls: Seq[(String, String)]) = ls
        .groupBy { case (k, _) => specForLeaf(versions, k) }.toSeq
        .sortBy(_._1.names.mkString("/"))
      val pins = generations(pureLs).map { case (sp, ls) =>
        val df = servePinned(spark, root, identity, strings(sp), ls,
          physDecl, Some(sp.renderCompact), valid)
        val missing = spec.fields.filterNot(sp.fields.contains)
        val dropNames = sp.names
          .filterNot(n => spec.fields.exists(f =>
            f.name == n && sp.fields.contains(f)))
        missing.foldLeft(df.drop(dropNames: _*))((d, f) =>
          d.withColumn(f.name, f.derived))
      }
      val mors = generations(morLs).map { case (sp, ls) =>
        spec.fields.foldLeft(resolveMorGrouped(spark,
          ls.map { case (k, d) => (s"$root/$k", d) }, sp.names, physDecl)
          .drop(sp.names: _*))((x, f) => x.withColumn(f.name, f.derived))
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

  /** The pins a reader may still hold: each kept snapshot's ([[pinsOf]])
    * under no declared schema and, on a SQL table, under the CURRENT
    * declared schema and the one in effect at that snapshot (time
    * travel). */
  private def validPins(spark: SparkSession, root: String): Seq[String] = {
    val declared: String => Seq[Option[
        org.apache.spark.sql.types.StructType]] =
      if (!graft.sql.GraftSchemas.hasVersions(spark, root)) _ => Seq(None)
      else { sn => Seq(None,
        Some(graft.sql.GraftSchemas.physicalSchema(
          graft.sql.GraftSchemas.current(spark, root))),
        Some(graft.sql.GraftSchemas.physicalSchema(
          graft.sql.GraftSchemas.forSnapshot(spark, root, sn))))
      }
    snapshots(spark, root).flatMap(sn => pinsOf(spark, root, identity,
      snapshotMapping(spark, root, sn), declared(sn)))
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

  /** Row-level CDC between two kept snapshots ([[diffSnapshots]]); the
    * leaves' partition values are recovered from the paths, and across
    * spec evolutions a field a leaf lacks reads as NULL. */
  def changesBetween(spark: SparkSession, root: String,
      spec: PartitionSpec, fromSnap: String, toSnap: String,
      changeCol: String = "_change_type"): DataFrame = {
    checkSpec(spark, root, spec)
    diffSnapshots(spark, root, identity, Nil, fromSnap, toSnap, changeCol,
      read(spark, root, spec, Some(toSnap)))
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
      values: Seq[String]): DataFrame =
    readLive(spark, s"$root/${leafPath(spec, values)}", None)

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

  /** MERGE-ON-READ commit ([[commitMergeCore]]) over leaf-keyed
    * `upserts` (full-data-schema rows, keyed by `keyCols`) and `deletes`
    * (key rows) into existing leaves whose chain-bottom schemas agree.
    * Returns the snapshot name. */
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

  /** [[analyzeLive]] over every LIVE leaf of every spec generation (an
    * evolved table's old-layout leaves hold live data too). The pinned
    * read relations carry the zone-map property, so after ANALYZE a
    * plain `read(…).where(range)` skips files below partition pruning
    * (the w21 contract on spec tables). */
  def analyzeFileStats(spark: SparkSession, root: String,
      spec: PartitionSpec, cols: Seq[String]): Int = {
    checkSpec(spark, root, spec)
    analyzeLive(spark, allLeafPaths(spark, root).map(lp => s"$root/$lp"),
      cols)
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
          .map(lp => org.apache.spark.sql.Row.fromSeq(
            leafFields(lp).map(_._2) :+ lp))
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
