package graft.engine

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.FooterSchema

/** MERGE-ON-READ, the write mode copy-on-write cannot afford at 100 TB
  * with hot keys — a stream of small upsert batches into a 1 TB
  * partition must NOT rewrite the terabyte per batch (write
  * amplification = key size / batch size). A merge commit writes a new
  * version directory holding ONLY the delta:
  *
  * {{{
  *   v000007-xxxx/
  *     _mor.tsv            #keys=k1,k2 / base=v000006-yyyy
  *     _delta/upserts/     (parquet: full-schema replacement rows)
  *     _delta/deletes/     (parquet: key columns of removed rows)
  * }}}
  *
  * `base` names the PREVIOUS version directory — itself possibly MOR,
  * so deltas chain (the Iceberg v2 delete-file / Delta deletion-vector
  * posture realized on the pointer machinery: bytes written per commit
  * scale with the DELTA, never the key). Readers resolve the chain
  * lazily: base rows whose key appears in any layer are dropped with
  * ONE anti-join against the (delta-sized, broadcastable) key set, and
  * each key's NEWEST layer event wins — an upsert contributes its
  * replacement row, a delete contributes nothing. Chains are keyed
  * uniformly: resolution applies the top layer's keys to every layer,
  * so a differently-keyed merge refuses to layer. Every reader path
  * (reads, CDC, the streaming source, the incremental consumer)
  * resolves MOR dirs transparently.
  *
  * COMPACTION IS THE FOLD-DOWN: the optimistic rewrite selects MOR-live
  * keys unconditionally (a delta chain IS deferred merge work), rewrites
  * the RESOLVED content and adopts a pure data dir — converging the
  * layout; chain length is bounded by compaction cadence (or inline by
  * `foldChainAt`). GC safety: every protection set is expanded through
  * `_mor.tsv` base chains, so a base dir can never be collected while a
  * kept snapshot (or the live pointer) names a layer above it.
  *
  * This trait is also THE TABLE ENGINE of both layouts: on top of
  * [[SnapshotLog]]'s commit protocol it holds the one implementation of
  * serving (content pins, the merge-on-read/pure split, catalog
  * relation registration), snapshot commit, CDC and zone-map analyze.
  * [[SpecManifest]] and [[PartitionedManifest]] are adapters that pass
  * their differences as data: where key `k` lives (`root/<leafRoot(k)>`,
  * `partCol=v` or `y=…/b=…`; the hive field names are read off that
  * path), each field's served type, and whether snapshots record the
  * data schema.
  */
trait MergeOnRead extends SnapshotLog {
  import MergeOnRead._

  /** Parquet footer schema of an IMMUTABLE version directory. Version
    * dirs are write-once: uuid-named, adopted by a single rename, never
    * mutated afterwards (the underscore sidecars later writes add are
    * reader-invisible), so the schema is read once per process on the
    * driver ([[FooterSchema.memo]]) — commits, reads and DML-eligibility
    * gates never pay an inference job for it. */
  private[graft] def footerSchema(spark: SparkSession, dir: String)
      : StructType = FooterSchema.memo(spark, dir)

  // ---------------------------------------------------------------------
  // THE CHAIN FORMAT

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
      def line(prefix: String, what: String): String =
        text.linesIterator.find(_.startsWith(prefix))
          .map(_.stripPrefix(prefix).trim)
          .getOrElse(sys.error(s"$logName: $dirPath/$MorFile has no $what"))
      Some((line("#keys=", "#keys= header").split(",").toSeq,
        line("base=", "base= line")))
    }
  }

  private def morBody(keys: Seq[String], baseDir: String): String =
    s"#keys=${keys.mkString(",")}\nbase=$baseDir\n"

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
        s"$logName: MOR base cycle under $partRoot: $out")
      out += next
      info = morInfo(spark, s"$partRoot/$next")
    }
    out.toSeq
  }

  /** The key columns of a version dir's delta chain (None = pure). */
  private[engine] def chainKeys(spark: SparkSession, partRoot: String,
      dirName: String): Option[Seq[String]] =
    morInfo(spark, s"$partRoot/$dirName").map(_._1)

  /** Expand a protection set through MOR base chains: protecting a
    * layer must protect everything below it. */
  protected def expandMorProtect(spark: SparkSession, partRoot: String,
      dirs: Set[String]): Set[String] =
    dirs.flatMap(d => morChain(spark, partRoot, d))

  // ---------------------------------------------------------------------
  // READERS shared by both layouts' serving and CDC paths

  /** Recover hive-style `field=value` path segments as STRING columns
    * appended after the data columns, via the deterministic hidden
    * file-metadata column. Its `file_path` is a URI, so each segment is
    * percent-decoded once to the directory name (a `+` is a literal plus
    * in a URI path, while `url_decode` would read it as a space), then
    * path-unescaped to the value (the leaf-key rule, [[escapeValue]]):
    * the escapes Spark writes for the characters `checkPartValue`
    * admits, `%25` last so a decoded `%` never starts another escape. */
  private[engine] def attachFieldsFromPath(df: DataFrame,
      fields: Seq[String]): DataFrame = {
    val dataCols = df.columns.toSeq
    val escapes = "#*:=?{[]^".map(c => (f"%%${c.toInt}%02X", c.toString)) :+
      ("%25" -> "%")
    val withF = fields.foldLeft(df)((x, f) =>
      x.withColumn(f, escapes.foldLeft(url_decode(regexp_replace(
        regexp_extract(col("_metadata.file_path"),
          java.util.regex.Pattern.quote(s"/$f=") + "([^/]+)/", 1),
        "\\+", "%2B"))) { case (v, (e, c)) => replace(v, lit(e), lit(c)) }))
    withF.select((dataCols.map(col) ++ fields.map(col)): _*)
  }

  /** Read a set of (pure) version dirs as ONE relation with hive path
    * fields recovered as string columns. */
  private[engine] def readDirsWithFields(spark: SparkSession,
      paths: Seq[String], fields: Seq[String],
      schema: Option[StructType] = None): DataFrame =
    attachFieldsFromPath(spark.read.schema(schema.getOrElse(
      FooterSchema.memo(spark, paths: _*))).parquet(paths: _*), fields)

  /** One key's LOGICAL content (no partition columns) at version
    * `dirName`: a pure dir reads directly, a MOR dir resolves its chain
    * through [[resolveMorGrouped]]. `schema` (a recorded or declared
    * schema) is the read authority when given. */
  private[engine] def resolveVersionData(spark: SparkSession,
      partRoot: String, dirName: String,
      schema: Option[StructType]): DataFrame =
    if (isMorDir(spark, s"$partRoot/$dirName"))
      resolveMorGrouped(spark, Seq(partRoot -> dirName), Nil, schema)
    else {
      val dir = s"$partRoot/$dirName"
      spark.read.schema(schema.getOrElse(footerSchema(spark, dir)))
        .parquet(dir)
    }

  /** Resolve MANY merge-on-read chains in ONE bounded-width plan — the
    * serving path for a CDC-heavy table with K hot keys between folds.
    * A per-chain plan would cost K union arms; here the arms scale with
    * CHAIN DEPTH, never K:
    *
    *   - every chain's BOTTOM (pure) dir reads as ONE relation, with
    *     the hive partition fields recovered from the file paths;
    *   - every chain's layer at depth d reads as ONE upsert relation +
    *     ONE delete relation (depth is bounded by foldChainAt/compaction
    *     cadence, typically ≤ 3);
    *   - resolution runs GLOBALLY, keyed on (partition fields ++ key
    *     columns): one anti-join of the combined base against the
    *     combined (delta-sized, broadcastable) key set and, in a group
    *     holding a chain deeper than one layer, one newest-layer-wins
    *     window over the DELTA union only — per-key semantics, because
    *     the partition fields keep different keys' rows apart and layer
    *     numbering is per-chain. An all-depth-1 group unions its upserts
    *     as they are: one layer holds at most one upsert per key.
    *
    * `entries` are (key root, live MOR version dir name); `fields` the
    * hive field names (in path order) to recover as STRING partition
    * columns. Chains with different key-column sets group separately
    * (arms = depth × distinct key sets). Output: data columns (in the
    * base's order) ++ fields. */
  private[engine] def resolveMorGrouped(spark: SparkSession,
      entries: Seq[(String, String)], fields: Seq[String],
      schema: Option[StructType]): DataFrame = {
    require(entries.nonEmpty, "resolveMorGrouped: no entries")
    val fs = fsOf(spark, entries.head._1)
    val infos = entries.map { case (pr, d) =>
      val keys = chainKeys(spark, pr, d).getOrElse(
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
              // delete dirs live inside immutable version dirs — their
              // footer schema memoizes like any other (no inference job)
              val keyDf = attach(spark.read
                .schema(footerSchema(spark, dels.head)).parquet(dels: _*))
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
          // one layer holds at most one upsert per key and upserts no
          // key it deletes (commitMerge's contract), so in an all-
          // depth-1 group the newest-layer window keeps every upsert
          val latest =
            if (maxDepth == 1) all
            else all.withColumn("_graft_rn", row_number().over(
                Window.partitionBy(grpKeys.map(col): _*)
                  .orderBy(col("_graft_layer").desc)))
              .filter(col("_graft_rn") === 1)
          // a left-anti join ignores duplicates on its right side, so
          // the key set needs no distinct; re-select the base order: a
          // using-columns join moves the join keys to the FRONT
          base.join(all.select(grpKeys.map(col): _*), grpKeys, "left_anti")
            .select(base.columns.toSeq.map(col): _*)
            .unionByName(latest.filter(col("_graft_op") === "u")
              .drop("_graft_op", "_graft_layer", "_graft_rn"))
        }
      }.reduce(_.unionByName(_))
  }

  /** Both directions of a multiset row diff in ONE aggregation —
    * row-for-row what `to.exceptAll(from)` tagged 'insert' unioned
    * with `from.exceptAll(to)` tagged 'delete' produces. Spark's own
    * RewriteExceptAll turns EACH exceptAll into union → signed-count
    * aggregate → replicate, so the two-direction spelling aggregates
    * the combined input twice; tagging the sides ±1 and keeping both
    * signs runs that same rewrite once (one exchange instead of two
    * over the changed keys' rows). Multiset-exact: a row with m copies
    * on the to side and n on the from side emits |m-n| copies, inserts
    * where m>n, deletes where n>m. Replication streams through the
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
      .agg(sum(col(W)).as(W))
      .filter(col(W) =!= 0L)
    summed.select((cols :+ W).map(col) :+
        graft.functions.Replicate.replicateN(abs(col(W))): _*)
      .select(cols.map(col) :+
        when(col(W) > 0, lit("insert")).otherwise(lit("delete"))
          .as(changeCol): _*)
  }

  // ---------------------------------------------------------------------
  // THE TABLE ENGINE: serving, relation registration, snapshot commit,
  // CDC and analyze, one implementation for both layouts. A layout is
  // data here: `leafRoot` places key k at `root/<leafRoot(k)>`, `fields`
  // pairs each hive field with the SQL type it serves as (the
  // single-column layout's typed partition column; `string` on spec
  // tables), and a table records its data schema in its snapshots
  // (`#schema`, the single-column layout) or not.

  /** The hive field names of a leaf path, in path order. */
  protected def fieldNames(leaf: String): Seq[String] =
    leaf.split("/").toSeq.map(_.takeWhile(_ != '='))

  private def typed(df: DataFrame, fields: Seq[(String, String)])
      : DataFrame =
    fields.foldLeft(df) { case (x, (n, t)) =>
      if (t == "string") x else x.withColumn(n, col(n).cast(t)) }

  /** Make catalog `table` an external partitioned parquet relation over
    * `root` serving exactly `leaves` (leaf path → absolute dir). It is
    * created when absent, and recreated (catalog-only) when its data
    * columns differ from `dataSchema`; then the catalog is diffed: one
    * batched ADD for new leaves, a SET LOCATION only where a pointer
    * moved, one batched DROP for leaves not wanted (a table re-pinned to
    * an older snapshot must not keep later partitions). A content pin is
    * a new table whose diff is all ADDs. Each partition value is the
    * unescaped directory value. */
  protected def syncRelation(spark: SparkSession, root: String,
      table: String, fields: Seq[(String, String)],
      leaves: Seq[(String, String)], dataSchema: StructType,
      props: Seq[(String, String)]): Unit = {
    val names = fields.map(_._1)
    def shape(s: StructType) = s.filterNot(f => names.contains(f.name))
      .map(f => (f.name, f.dataType))
    val existed = spark.catalog.tableExists(table)
    if (existed && shape(spark.table(table).schema) != shape(dataSchema))
      spark.sql(s"DROP TABLE `$table`")
    if (!spark.catalog.tableExists(table)) {
      val cols = (dataSchema.map(f => s"`${f.name}` ${f.dataType.sql}") ++
        fields.map { case (n, t) => s"`$n` $t" }).mkString(", ")
      // a content-named pin a racing reader created is the identical
      // table: losing the create race is benign
      try spark.sql(s"CREATE TABLE `$table` ($cols) USING parquet " +
        s"PARTITIONED BY (${names.map(n => s"`$n`").mkString(", ")}) " +
        s"LOCATION '$root' TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
      catch {
        case _: org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException => ()
      }
    }
    def spec(vs: Seq[String]): String = names.zip(vs)
      .map { case (n, v) => s"`$n`='$v'" }.mkString("PARTITION (", ", ", ")")
    val existing: Map[Seq[String], String] = spark.sharedState
      .externalCatalog.listPartitions(spark.catalog.currentDatabase, table)
      .map(p => names.map(p.spec) -> p.location.toString).toMap
    def norm(s: String) = s.stripPrefix("file:").stripSuffix("/")
    val wanted = leaves.map { case (lp, d) => leafFields(lp).map(_._2) -> d }
    val extra = existing.keySet.diff(wanted.map(_._1).toSet).toSeq
      .sortBy(_.mkString("/"))
    // DROP takes COMMA-separated partition specs, ADD space-separated
    // spec LOCATION pairs
    if (extra.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS " +
        extra.map(spec).mkString(", "))
    val added = wanted.filterNot { case (vs, _) => existing.contains(vs) }
    if (added.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` ADD IF NOT EXISTS " +
        added.map { case (vs, d) => s"${spec(vs)} LOCATION '$d'" }
          .mkString(" "))
    wanted.foreach { case (vs, d) =>
      if (existing.get(vs).exists(loc => norm(loc) != norm(d)))
        spark.sql(s"ALTER TABLE `$table` ${spec(vs)} SET LOCATION '$d'")
    }
    if (existed) spark.sql(s"REFRESH TABLE `$table`")
    graft.plans.ZoneMaps.install(spark)
  }

  private def pinPrefix(root: String): String =
    s"graft_pin_${SnapshotLog.hash8(root)}_"

  /** A pin's name hashes its content, the (key, version dir) mapping
    * plus the served schema: the same dirs under an evolved schema serve
    * through a different pin. */
  private def pinName(root: String, mapping: Seq[(String, String)],
      schema: Option[StructType]): String =
    pinPrefix(root) + SnapshotLog.hash8(
      mapping.sortBy(_._1).map { case (k, d) => s"$k\t$d" }.mkString("\n") +
        schema.map(s => "\n#schema=" + s.json).getOrElse(""))

  /** The pins that serve `mapping` under each of `schemas`: the whole
    * mapping's, its pure subset's (merge-on-read keys compose on top of
    * the pin) and each field layout's (spec generation's) pure subset. */
  protected def pinsOf(spark: SparkSession, root: String,
      leafRoot: String => String, mapping: Seq[(String, String)],
      schemas: Seq[Option[StructType]]): Seq[String] = {
    val pure = mapping.filterNot { case (k, d) =>
      isMorDir(spark, s"$root/${leafRoot(k)}/$d") }
    val groups = pure.groupBy { case (k, _) => fieldNames(leafRoot(k)) }
    for {
      m <- (Seq(mapping, pure) ++ groups.values).distinct if m.nonEmpty
      s <- schemas.distinct
    } yield pinName(root, m, s)
  }

  /** Serve pure version dirs through one CONTENT-PINNED partitioned
    * catalog relation: any key count plans ONE relation node with real
    * PartitionFilters pruning, re-reading a mapping reuses its
    * registration (zero catalog writes), and the pin is immutable, so a
    * DataFrame captured before a later commit keeps reading the versions
    * it resolved. Registering a new pin drops this root's pins that
    * `valid()` no longer names, so catalog metadata keeps the keep-N
    * reader horizon of the version dirs (a reader holding a DataFrame
    * past it fails loudly on the missing files, never silently:
    * `spark.sql.files.ignoreMissingFiles` must stay false). `spec`, the
    * hidden-partition spec, lets its rule derive partition filters from
    * source-column equalities. */
  protected def servePinned(spark: SparkSession, root: String,
      leafRoot: String => String, fields: Seq[(String, String)],
      mapping: Seq[(String, String)], schema: Option[StructType],
      spec: Option[String], valid: () => Seq[String]): DataFrame = {
    val table = pinName(root, mapping, schema)
    if (!spark.catalog.tableExists(table)) {
      val leaves = mapping.map { case (k, d) =>
        leafRoot(k) -> s"$root/${leafRoot(k)}/$d" }
      syncRelation(spark, root, table, fields, leaves,
        schema.getOrElse(footerSchema(spark, leaves.head._2)),
        (graft.plans.ZoneMaps.Prop -> "true") +:
          spec.map(graft.plans.HiddenPartitions.Prop -> _).toSeq)
      val keep = valid().toSet + table
      spark.sharedState.externalCatalog
        .listTables(spark.catalog.currentDatabase)
        .filter(t => t.startsWith(pinPrefix(root)) && !keep(t))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
    // a pin reused from an earlier session still needs the session-local
    // optimizer rules
    graft.plans.ZoneMaps.install(spark)
    if (spec.isDefined) graft.plans.HiddenPartitions.install(spark)
    spark.table(table)
  }

  /** Serve a resolved (key, version dir) mapping with the data columns
    * of `schema` (recorded or declared; else the footers) and `fields`:
    * pure dirs through [[servePinned]], merge-on-read dirs through one
    * grouped resolution unioned on top (plan width scales with chain
    * depth, never the count of merge-on-read keys). */
  protected def serveMapping(spark: SparkSession, root: String,
      leafRoot: String => String, fields: Seq[(String, String)],
      mapping: Seq[(String, String)], schema: Option[StructType],
      spec: Option[String], valid: () => Seq[String]): DataFrame = {
    require(mapping.nonEmpty, s"$logName: no $keysNoun to serve under $root")
    val (mor, pure) = mapping.partition { case (k, d) =>
      isMorDir(spark, s"$root/${leafRoot(k)}/$d") }
    val pinned =
      if (pure.isEmpty) Nil
      else Seq(servePinned(spark, root, leafRoot, fields, pure, schema,
        spec, valid))
    val resolved =
      if (mor.isEmpty) Nil
      else Seq(typed(resolveMorGrouped(spark,
        mor.map { case (k, d) => (s"$root/${leafRoot(k)}", d) },
        fields.map(_._1), schema), fields))
    (pinned ++ resolved).reduce(_.unionByName(_))
  }

  /** (key, version dir) entries of ONE field layout as one frame: pure
    * dirs as one relation, merge-on-read chains through one grouped
    * resolution, fields recovered from the paths. */
  private def readEntries(spark: SparkSession, root: String,
      leafRoot: String => String, entries: Seq[(String, String)],
      names: Seq[String], schema: Option[StructType]): DataFrame = {
    val (mor, pure) = entries.partition { case (k, d) =>
      isMorDir(spark, s"$root/${leafRoot(k)}/$d") }
    ((if (pure.isEmpty) Nil
      else Seq(readDirsWithFields(spark,
        pure.map { case (k, d) => s"$root/${leafRoot(k)}/$d" }, names,
        schema))) ++
     (if (mor.isEmpty) Nil
      else Seq(resolveMorGrouped(spark,
        mor.map { case (k, d) => (s"$root/${leafRoot(k)}", d) }, names,
        schema)))).reduce(_.unionByName(_))
  }

  /** One key's current LOGICAL content (no partition columns),
    * merge-on-read resolving. */
  protected def readLive(spark: SparkSession, keyRoot: String,
      schema: Option[StructType]): DataFrame =
    resolveVersionData(spark, keyRoot, ManifestTable.currentVersion(keyRoot)
      .getOrElse(sys.error(s"$logName: no MANIFEST under $keyRoot")), schema)

  /** The footer schema of a mapping's first version dir: the schema a
    * table that records one starts from when nothing else gives it. */
  protected def firstFooter(spark: SparkSession, root: String,
      leafRoot: String => String)(
      mapping: Seq[(String, String)]): Option[StructType] =
    mapping.headOption.map { case (k, d) =>
      footerSchema(spark, s"$root/${leafRoot(k)}/$d") }

  /** The SNAPSHOT COMMIT, under the root publish lock: `validate(base)`
    * first (conflict guards, key rules), then ONE hive-partitioned write
    * of `data` (data columns + `fields`, string values) whose leaf
    * subdirs are adopted as the `touched` keys' next versions (a touched
    * key with no rows publishes an empty version), then one snapshot
    * over base ++ written: the whole delta becomes visible in a single
    * atomic rename. Version GC keeps the pinned snapshots' dirs and is
    * delta-scoped. A table that records its schema evolves it
    * additively by `data`'s, checked before any pointer moves (see
    * [[evolvedSchema]]); a commit without data records the current one,
    * or the first leaf's footer. Returns the snapshot name. */
  protected def commitTagged(spark: SparkSession, root: String,
      leafRoot: String => String, fields: Seq[String],
      data: Option[DataFrame], touched: Seq[String], keepSnapshots: Int,
      liveKeys: () => Seq[String], recordSchema: Boolean,
      validate: Map[String, String] => Unit = _ => ()): String = {
    require(keepSnapshots >= 2,
      "keepSnapshots must be >= 2 (current + previous)")
    ManifestTable.withPublishLock(root) {
      val base = baseMappingLocked(spark, root, leafRoot, liveKeys)
      validate(base)
      val dataCols = data.map(_.columns.toSeq.filterNot(fields.contains))
      val schema =
        if (!recordSchema) None
        else evolvedSchema(currentSnapshot(spark, root)
          .flatMap(snapshotSchema(spark, root, _)),
          data.map(df => StructType(df.schema.filterNot(f =>
            fields.contains(f.name)))))
      val written: Map[String, String] = data match {
        case Some(df) if touched.nonEmpty =>
          val scratch = s"$root/.commit-${SnapshotLog.uuid8()}"
          writeTagged(df, fields, scratch)
          try adoptLeavesLocked(spark, root, Some(scratch),
            touched.distinct.sorted, keepSnapshots, leafRoot,
            _ => df.select(dataCols.get.map(col): _*).limit(0))
          finally fsOf(spark, root).delete(new HPath(scratch), true)
        case _ => Map.empty
      }
      val mapping = (base ++ written).toSeq.sortBy(_._1)
      require(mapping.nonEmpty, s"$logName: nothing to commit")
      writeSnapshotLocked(spark, root, mapping, keepSnapshots,
        if (recordSchema) schema.orElse(firstFooter(spark, root, leafRoot)(
          mapping)) else None)
    }
  }

  /** Row-level CDC between two kept snapshots, METADATA-FIRST: a key
    * contributes rows only when its version dir differs between them,
    * so an untouched key is never listed, planned or read (the Iceberg
    * incremental-scan contract). Each side reads its changed keys
    * through its own snapshot's recorded schema, one relation per field
    * layout for pure dirs plus one grouped merge-on-read resolution,
    * with the partition values recovered from the paths (fields a
    * layout lacks, across spec evolutions, read as NULL). Where the
    * to-snapshot records a schema both sides align to it (a column added
    * between the commits reads as NULL on the from side; a type change
    * fails loudly). The multiset diff ([[multisetDiff]]) tags
    * `changeCol` 'insert' / 'delete' (an update is its delete + its
    * insert, the Delta CDF shape, derived from the immutable version
    * dirs at no ingest cost). `empty` gives the shape when nothing
    * changed. */
  protected def diffSnapshots(spark: SparkSession, root: String,
      leafRoot: String => String, fields: Seq[(String, String)],
      fromSnap: String, toSnap: String, changeCol: String,
      empty: => DataFrame): DataFrame = {
    val from = snapshotMapping(spark, root, fromSnap).toMap
    val to = snapshotMapping(spark, root, toSnap).toMap
    val changed = (from.keySet ++ to.keySet)
      .filter(k => from.get(k) != to.get(k)).toSeq.sorted
    val allNames = changed.flatMap(k => fieldNames(leafRoot(k))).distinct
    def side(m: Map[String, String], snap: String): Option[DataFrame] = {
      val schema = snapshotSchema(spark, root, snap)
      val leaves = changed.flatMap(k => m.get(k).map(k -> _))
      if (leaves.isEmpty) None
      else Some(typed(leaves
        .groupBy { case (k, _) => fieldNames(leafRoot(k)) }
        .toSeq.sortBy(_._1.mkString("/"))
        .map { case (names, ls) =>
          val df = readEntries(spark, root, leafRoot, ls, names, schema)
          val dataCols = df.columns.toSeq.filterNot(names.contains)
          allNames.filterNot(names.contains)
            .foldLeft(df)((x, n) => x.withColumn(n, lit(null).cast("string")))
            .select((dataCols ++ allNames).map(col): _*)
        }.reduce(_.unionByName(_)), fields))
    }
    (side(from, fromSnap), side(to, toSnap)) match {
      case (None, None) => empty.limit(0).withColumn(changeCol, lit(""))
      case (f, t) =>
        val fDf = f.orElse(t.map(_.limit(0))).get
        val tDf = t.orElse(f.map(_.limit(0))).get
        snapshotSchema(spark, root, toSnap) match {
          case None => multisetDiff(tDf, fDf, changeCol)
          case Some(s) =>
            val target = s.fields.toSeq ++ allNames.map(tDf.schema(_))
            def align(df: DataFrame): DataFrame = df.select(target.map { fld =>
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
            multisetDiff(align(tDf), align(fDf), changeCol)
        }
    }
  }

  /** Collect file-level min/max zone maps ([[FileStats]]) for `cols` on
    * each key root's LIVE version dir. Idempotent per version dir (they
    * are immutable), so running it after every commit costs one footer
    * sweep of the delta's files. A merge-on-read dir is refused: its
    * (empty) sidecar would make a skip-scan silently drop its content.
    * Returns the number of version dirs newly analyzed. */
  protected def analyzeLive(spark: SparkSession, keyRoots: Seq[String],
      cols: Seq[String]): Int =
    keyRoots.map { pr =>
      val dir = ManifestTable.currentDataDir(pr).getOrElse(
        sys.error(s"$logName: no MANIFEST under $pr"))
      require(!isMorDir(spark, dir),
        s"$logName: $dir is merge-on-read - analyze after compaction " +
          "folds the delta chain down")
      if (FileStats.collect(spark, dir, cols) >= 0) 1 else 0
    }.sum

  // ---------------------------------------------------------------------
  // COMMIT: the merge-on-read commit and the optimistic rewrite

  private def sameShape(a: StructType, b: StructType): Boolean =
    a.map(f => (f.name, f.dataType)) == b.map(f => (f.name, f.dataType))

  /** The data schema a merge's delta must carry: the snapshot's
    * recorded `#schema` when it has one, else the touched keys'
    * chain-BOTTOM footers (MOR layers hold no data files), which must
    * all agree — on a mixed-shape table (partial copy-on-write rewrites
    * after an ALTER) a delta matching one key must not layer onto a
    * differently-shaped one. `mismatch(k, its schema, the first's)` is
    * the error when they do not. */
  private def mergeSchema(spark: SparkSession, root: String, snap: String,
      keys: Seq[String], dirOf: String => String,
      leafRoot: String => String)(
      mismatch: (String, StructType, StructType) => String): StructType =
    snapshotSchema(spark, root, snap).getOrElse {
      // independent per-key footer reads — overlap them
      val bottoms = Par.map(keys) { k =>
        val pr = s"$root/${leafRoot(k)}"
        footerSchema(spark, s"$pr/${morChain(spark, pr, dirOf(k)).last}")
      }
      keys.zip(bottoms).tail.foreach { case (k, sc) =>
        require(sameShape(sc, bottoms.head), mismatch(k, sc, bottoms.head))
      }
      bottoms.head
    }

  private def deleteQuietly(spark: SparkSession, path: String): Unit =
    try fsOf(spark, path).delete(new HPath(path), true)
    catch { case _: java.io.IOException => () }

  /** MERGE-ON-READ commit: fold `upserts` (full-schema replacement rows,
    * keyed by `keyCols`) and `deletes` (key rows) into the touched keys
    * WITHOUT rewriting them — each touched key gets a new version dir
    * holding only the delta files and a `_mor.tsv` naming its base. One
    * atomic snapshot commit covers the whole delta, so CDC, time
    * travel, tags, branches and the incremental consumer see a merge
    * exactly like any other commit. Frames may carry the `partFields`
    * columns; they are dropped.
    *
    * Contract: the table must be snapshot-managed; touched keys must
    * exist (key creation is a snapshot commit's job); upsert frames
    * carry exactly the data schema ([[mergeSchema]]); per key, upsert
    * keys and delete keys must be disjoint, and upsert keys unique (the
    * Delta MERGE multiple-match contract — violations make the resolved
    * content order-dependent). Returns the snapshot name.
    *
    * `foldChainAt` (> 0) BOUNDS the delta chain without a separate
    * maintenance pass: a merge that would make a key's chain that deep
    * publishes the RESOLVED content as a pure data dir instead of
    * another layer — the key's bytes are paid once per `foldChainAt`
    * merges and every reader's chain walk stays ≤ foldChainAt.
    *
    * CONCURRENCY: the delta parquet is staged with NO lock held, so
    * concurrent merge committers overlap their I/O and serialize only on
    * the cheap metadata tail. Under the lock each touched key re-reads
    * its FRESH live version as the chain base (the delta files never
    * depend on it), so a committer that landed mid-staging simply
    * becomes one more layer below — both commits land, newest layer
    * still wins per key. The schema is re-validated under the lock; a
    * concurrent schema change fails the merge loudly. `onBeforeLock` is
    * the test seam between the two phases. */
  protected def commitMergeCore(spark: SparkSession, root: String,
      leafRoot: String => String, partFields: Seq[String],
      keyCols: Seq[String], upserts: Map[String, DataFrame],
      deletes: Map[String, DataFrame], keepSnapshots: Int,
      foldChainAt: Int, onBeforeLock: () => Unit): String = {
    require(keepSnapshots >= 2, "keepSnapshots must be >= 2")
    require(keyCols.nonEmpty && !keyCols.exists(partFields.contains),
      "commitMerge: keyCols must be non-empty data columns, not " +
        "partition fields")
    val touched = (upserts.keySet ++ deletes.keySet).toSeq.sorted
    require(touched.nonEmpty, "commitMerge needs upserts or deletes")
    val fs = fsOf(spark, root)
    def keyRoot(k: String): String = s"$root/${leafRoot(k)}"
    def liveVersion(k: String): String =
      ManifestTable.currentVersion(keyRoot(k)).getOrElse(
        sys.error(s"$logName: no MANIFEST under ${keyRoot(k)}"))
    def requireExisting(base: Map[String, String]): Unit = {
      val unknown = touched.filterNot(base.contains).map(leafRoot)
      require(unknown.isEmpty,
        s"$logName: merge-on-read may only touch existing $keysNoun " +
          s"(new: ${unknown.mkString(",")}) - create $keysNoun through " +
          "commitSnapshot")
    }
    // ---- LOCK-FREE phase: validate against an optimistic read of the
    // current snapshot and stage every key's delta parquet ----
    val snap0 = currentSnapshot(spark, root).getOrElse(sys.error(
      s"$logName: commitMerge needs a committed snapshot under $root - " +
        "commitSnapshot first"))
    val base0 = snapshotMapping(spark, root, snap0).toMap
    requireExisting(base0)
    val schema = mergeSchema(spark, root, snap0, touched, base0, leafRoot) {
      (k, sc, first) =>
        s"commitMerge: ${leafRoot(k)} file schema " +
          s"(${sc.fieldNames.mkString(",")}) differs from " +
          s"${leafRoot(touched.head)}'s (${first.fieldNames.mkString(",")})" +
          s" - mixed-shape $keysNoun cannot share one delta; rewrite the " +
          "stale ones first (copy-on-write DML does this automatically)"
    }
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"commitMerge: unknown key column '$k'"))
    def dataOnly(df: DataFrame): DataFrame =
      partFields.foldLeft(df)((x, n) =>
        if (x.columns.contains(n)) x.drop(n) else x)
    upserts.foreach { case (k, df) =>
      val cols = dataOnly(df).schema.map(f => (f.name, f.dataType))
      require(cols == schema.map(f => (f.name, f.dataType)),
        s"commitMerge: ${leafRoot(k)} upsert schema " +
          s"(${cols.map(_._1).mkString(",")}) does not match the data " +
          s"schema (${schema.fieldNames.mkString(",")}) - schema " +
          "evolution goes through commitSnapshot")
    }
    deletes.foreach { case (k, df) =>
      val cols = dataOnly(df).columns.toSeq.sorted
      require(cols == keyCols.sorted,
        s"commitMerge: ${leafRoot(k)} delete frame must carry exactly " +
          s"the key columns ${keyCols.mkString(",")} (got " +
          s"${cols.mkString(",")})")
    }
    // staging: ONE write job for every key's upserts and one for all
    // deletes — each per-key frame tagged with its touched-key ordinal,
    // unioned, written `partitionBy` the tag into a root scratch, then
    // RENAMED into the per-key stage dirs (driver fs ops). A tiny
    // parquet write has ~0.1-0.3 s fixed cost (job launch, committer,
    // footers), so L per-key writes collapsing to 2 jobs is the
    // dominant saving on multi-key merges (measured in
    // OPTIMIZATION_r19.md). The per-key up/del overlap checks batch into
    // ONE intersect the same way (the tag keeps it per-key; intersect,
    // not an equi-join, so NULL keys still compare).
    val Tag = "_graft_stage_leaf" // _graft_ prefix reserved repo-wide
    val idxOf: Map[String, Int] = touched.zipWithIndex.toMap
    // a union of L per-key delta frames carries the SUM of their
    // partitions; coalesce back to the SESSION SHUFFLE PARALLELISM
    // (scale-free: no shuffle, no size guess, a no-op for any union
    // already narrower, and no .rdd probe that would eagerly
    // materialize a caller's shuffle stage), which bounds both the
    // write task count and the files-per-tag every later chain read
    // pays for
    def taggedUnion(m: Map[String, DataFrame],
        sel: DataFrame => DataFrame): Option[DataFrame] = {
      val frames = touched.flatMap { k =>
        m.get(k).map(df => sel(dataOnly(df))
          .withColumn(Tag, lit(idxOf(k).toString)))
      }
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
      val p = s"$root/.morstage-$what-${SnapshotLog.uuid8()}"
      d.write.partitionBy(Tag).parquet(p)
      p
    }
    // the two staging writes are INDEPENDENT jobs — submit both so the
    // second's tasks back-fill cores freed by the first's tail
    val Seq(scratchUp, scratchDel) = Par.map(Seq(
      (upAll, "up"), (delAll, "del"))) {
      case (df, what) => scratchWrite(df, what)
    }
    def dropScratch(): Unit =
      (scratchUp.toSeq ++ scratchDel.toSeq).foreach(deleteQuietly(spark, _))
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
        .map(r => leafRoot(touched(r.getString(0).toInt)))
      if (overlap.nonEmpty) {
        dropScratch()
        require(overlap.isEmpty,
          s"commitMerge: ${overlap.sorted.mkString(",")} have keys in " +
            "BOTH upserts and deletes - an upsert already replaces; a " +
            "delete already removes (overlap makes the outcome ambiguous)")
      }
    }
    // (key, upserts, deletes, staged delta dir); the lazy frames serve
    // the (amortized-rare) foldChainAt branch
    val staged: Seq[(String, Option[DataFrame], Option[DataFrame],
        String)] =
      try touched.zipWithIndex.map { case (k, i) =>
        val stage = s"${keyRoot(k)}/.mor-${SnapshotLog.uuid8()}"
        fs.mkdirs(new HPath(s"$stage/_delta"))
        // a key whose frame produced no rows writes no scratch subdir;
        // the resolver probes each _delta subdir with fs.exists, so
        // absent == empty (same read semantics)
        def adopt(scratch: Option[String], sub: String): Unit =
          scratch.foreach { sc =>
            val src = new HPath(s"$sc/$Tag=$i")
            if (fs.exists(src))
              fs.rename(src, new HPath(s"$stage/_delta/$sub"))
          }
        adopt(scratchUp, "upserts")
        adopt(scratchDel, "deletes")
        (k, upserts.get(k).map(df =>
            dataOnly(df).select(schema.fieldNames.toSeq.map(col): _*)),
          deletes.get(k).map(df =>
            dataOnly(df).select(keyCols.map(col): _*).distinct()),
          stage)
      } finally dropScratch()
    onBeforeLock()
    // ---- LOCKED phase: cheap metadata only (plus the amortized-rare
    // foldChainAt fold) — re-validate, bind each delta to its FRESH
    // chain base, adopt, snapshot ----
    try ManifestTable.withPublishLock(root) {
      val snap = currentSnapshot(spark, root).get
      val base = snapshotMapping(spark, root, snap).toMap
      requireExisting(base)
      // a schema change that landed mid-staging invalidates the staged
      // frames' shape — fail loudly, never adopt a stale shape
      val restage = "the schema evolved while the delta was staging - " +
        "restage against the current schema"
      val cur = mergeSchema(spark, root, snap, touched, liveVersion,
        leafRoot)((k, _, _) => s"commitMerge: ${leafRoot(k)}: $restage")
      require(sameShape(cur, schema), s"commitMerge: $restage")
      val protectByKey = protectedDirsByKey(spark, root, keepSnapshots)
      val written: Map[String, String] = Par.map(staged) {
        case (k, up, del, stage) =>
          val pr = keyRoot(k)
          val baseDir = liveVersion(k)
          chainKeys(spark, pr, baseDir).foreach(bk =>
            require(bk == keyCols,
              s"commitMerge: ${leafRoot(k)} has a delta chain keyed by " +
                s"(${bk.mkString(",")}) - a merge keyed by " +
                s"(${keyCols.mkString(",")}) cannot layer on it; compact " +
                "first or reuse the chain's keys"))
          val protect = expandMorProtect(spark, pr,
            protectByKey.getOrElse(k, Set.empty))
          val dir =
            if (foldChainAt > 0 &&
                morChain(spark, pr, baseDir).length + 1 >= foldChainAt) {
              // bounded chain: fold instead of layering
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
              ManifestTable.writeOnce(stage, MorFile, morBody(keyCols, baseDir))
              ManifestTable.adoptVersion(pr, stage, protect)
            }
          k -> new HPath(dir).getName
      }.toMap
      writeSnapshotLocked(spark, root,
        (base ++ written).toSeq.sortBy(_._1), keepSnapshots,
        snapshotSchema(spark, root, snap), operation = "merge")
    } catch {
      case e: Throwable =>
        staged.foreach(s => deleteQuietly(spark, s._4))
        throw e
    }
  }

  /** The layout transform of a clustered rewrite — one frame
    * range-partitioned into `nf` internally-sorted files,
    * lexicographically on `clusterBy` or Morton-interleaved (`zOrder`). */
  private def clusterFrame(df: DataFrame, clusterBy: Seq[String],
      nf: Int, zOrder: Boolean, what: String): DataFrame =
    if (!zOrder)
      df.repartitionByRange(nf, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    else {
      // OPTIMIZE ZORDER: interleave the two dimensions on the Morton
      // curve so EITHER column's range predicate prunes files (a
      // lexicographic sort only serves its leading column). Each
      // dimension min-max scales to the full 16-bit range per key first
      // (Delta's range-bounds pass) — interleaving raw values that only
      // touch the low bits would leave every row in one Z quadrant.
      require(clusterBy.length == 2,
        "zOrder clustering interleaves exactly two columns")
      val Seq(c1, c2) = clusterBy
      // try_cast, not cast: under ANSI a non-numeric value would throw
      // an opaque CAST_INVALID_INPUT mid-job — the guard below turns the
      // all-null outcome into a clear layout error
      val r = df.agg(min(expr(s"try_cast(`$c1` as bigint)")),
        max(expr(s"try_cast(`$c1` as bigint)")),
        min(expr(s"try_cast(`$c2` as bigint)")),
        max(expr(s"try_cast(`$c2` as bigint)"))).head()
      // loud validation instead of an opaque NPE mid-rewrite: an
      // all-NULL column, a column that does not cast to bigint
      // (string/date), or an empty key leaves null agg slots
      if ((0 to 3).exists(r.isNullAt))
        throw new LayoutValidationException(
          s"zOrder: $what needs non-empty data and cluster " +
            s"columns (${clusterBy.mkString(", ")}) castable to " +
            "bigint with at least one non-null value each")
      val (amin, amax) = (r.getLong(0), r.getLong(1))
      val (bmin, bmax) = (r.getLong(2), r.getLong(3))
      val spanA = math.max(amax - amin, 1L)
      val spanB = math.max(bmax - bmin, 1L)
      // integer `div`, not `/` (Column./ is float division); try_cast
      // so a stray non-castable value lands in the null range-partition
      // instead of failing the whole rewrite
      val a16 = expr(
        s"((try_cast(`$c1` as bigint) - ${amin}L) * 65535L) div ${spanA}L")
      val b16 = expr(
        s"((try_cast(`$c2` as bigint) - ${bmin}L) * 65535L) div ${spanB}L")
      df.withColumn("_graft_z", graft.operators.Layout.zOrder16(a16, b16))
        .repartitionByRange(nf, col("_graft_z"))
        .sortWithinPartitions(col("_graft_z"))
        .drop("_graft_z")
    }

  private def clusterMarkerBody(c: Clustering): String =
    s"clusterBy=${c.by.mkString(",")}\nfiles=${c.files}\n" +
      s"zorder=${c.zOrder}\n"

  /** Is this (pure) version dir already clustered under exactly this
    * layout? Conservative: no marker / different layout → false (the
    * key is re-selected). */
  protected def isClusteredAs(spark: SparkSession, dirPath: String,
      c: Clustering): Boolean = {
    val fs = fsOf(spark, dirPath)
    val p = new HPath(dirPath, ClusterMarker)
    fs.exists(p) && SnapshotLog.readUtf8(fs, p) == clusterMarkerBody(c)
  }

  /** The OPTIMISTIC rewrite loop behind every compaction and layout
    * rewrite (the Iceberg `rewrite_data_files` contract):
    *
    *   - the READ-SET is taken under the root publish lock: the keys a
    *     commit starts from ([[baseMappingLocked]]), each at its LIVE
    *     version (the pointer every commit path advances), narrowed by
    *     `select` (given (key, absolute live dir) pairs);
    *   - the rewrite runs with NO lock held — a minutes-long rewrite
    *     never stalls an ingest commit. Plain (`clustering` None): ONE
    *     hive-partitioned [[writeTagged]] of the bounded-width grouped
    *     resolution of every candidate (one write per key-field layout
    *     and, where no schema is given, per chain-bottom shape). A
    *     merge-on-read candidate's rewrite is its RESOLVED content — the
    *     fold-down. Clustered: one range-partitioned, internally-sorted
    *     job per key, stamped with the layout marker so a repeated
    *     identical call selects nothing;
    *   - under the lock, pointer IDENTITY validates each key (every
    *     commit path advances the key pointer): clean keys adopt through
    *     [[adoptLeavesLocked]] (version GC keeping the pinned snapshots'
    *     dirs) in one snapshot; keys a concurrent commit touched
    *     mid-rewrite are not committed (the fresh commit's rows win) and
    *     are re-selected against their new versions, up to `maxAttempts`
    *     rounds. A read-set dir GC'd mid-rewrite fails the rewrite job;
    *     the pass re-selects and retries within the same budget.
    *
    * The rewrite reads through `schema`, else the table's recorded
    * schema, else each chain's own bottom footer. The snapshot records
    * the current recorded schema, or `deriveSchema(new mapping)` on a
    * table that records none. A pass that selects nothing commits
    * nothing. `onBeforeValidate` is the test seam between each rewrite
    * and its validation. Returns (the last snapshot this pass made, or
    * the unchanged current one; rewritten keys). */
  protected def rewriteLeaves(spark: SparkSession, root: String,
      leafRoot: String => String, liveKeys: () => Seq[String],
      select: Seq[(String, String)] => Seq[(String, String)],
      schema: Option[StructType], clustering: Option[Clustering],
      keepSnapshots: Int, maxAttempts: Int, operation: String,
      onBeforeValidate: () => Unit,
      deriveSchema: Seq[(String, String)] => Option[StructType] = _ => None)
      : (String, Seq[String]) = {
    require(keepSnapshots >= 2,
      "keepSnapshots must be >= 2 (current + previous)")
    def keyRoot(k: String): String = s"$root/${leafRoot(k)}"
    def live(k: String): Option[String] =
      ManifestTable.currentVersion(keyRoot(k))
    def recorded: Option[StructType] =
      currentSnapshot(spark, root).flatMap(snapshotSchema(spark, root, _))
    def selectReadSet(among: Option[Set[String]]): Map[String, String] = {
      val dirs = baseMappingLocked(spark, root, leafRoot, liveKeys).keys
        .filter(k => among.forall(_.contains(k))).toSeq.sorted
        .map(k => k -> live(k).getOrElse(
          sys.error(s"$logName: no MANIFEST under ${keyRoot(k)}")))
      val picked =
        select(dirs.map { case (k, d) => k -> s"${keyRoot(k)}/$d" })
          .map(_._1).toSet
      dirs.filter { case (k, _) => picked(k) }.toMap
    }
    val done = scala.collection.mutable.ListBuffer.empty[String]
    var lastSnap: Option[String] = None
    var candidates = ManifestTable.withPublishLock(root)(selectReadSet(None))
    var attempt = 0
    while (candidates.nonEmpty && attempt < maxAttempts) {
      attempt += 1
      val readSchema = schema.orElse(recorded)
      val scratches = scala.collection.mutable.ListBuffer.empty[String]
      def newScratch(): String = {
        val s = s"$root/.compact-${SnapshotLog.uuid8()}"
        scratches += s
        s
      }
      // EXPENSIVE phase, NO lock held: key → the scratch root holding
      // its rewrite at `scratch/<leafRoot(key)>`
      val scratchOf: Option[Map[String, String]] =
        try Some(clustering match {
          case Some(c) =>
            val scratch = newScratch()
            val fs = fsOf(spark, root)
            Par.map(candidates.toSeq.sorted) { case (k, d) =>
              // the size-derived file count sums the whole chain's bytes
              // (an upper bound on the resolved size — safe for sizing)
              val bytes = morChain(spark, keyRoot(k), d).map(x =>
                fs.getContentSummary(new HPath(s"${keyRoot(k)}/$x"))
                  .getLength).sum
              val nf =
                if (c.files > 0) c.files
                else math.max(1,
                  math.ceil(bytes.toDouble / c.targetBytes).toInt)
              val out = s"$scratch/${leafRoot(k)}"
              clusterFrame(resolveVersionData(spark, keyRoot(k), d,
                readSchema), c.by, nf, c.zOrder, leafRoot(k))
                .write.mode("error").parquet(out)
              ManifestTable.writeOnce(out, ClusterMarker, clusterMarkerBody(c))
            }
            candidates.keys.map(_ -> scratch).toMap
          case None =>
            // one group per key-field layout (spec generation) and, with
            // no schema to read through, per chain-bottom shape: each
            // group is one bounded-width read and one tagged write
            val groups = candidates.toSeq.sorted.groupBy { case (k, d) =>
              (fieldNames(leafRoot(k)),
                readSchema.getOrElse(footerSchema(spark,
                  s"${keyRoot(k)}/${morChain(spark, keyRoot(k), d).last}")))
            }
            Par.map(groups.toSeq.map(_ -> newScratch())) {
              case (((fields, sc), ents), scratch) =>
                writeTagged(readEntries(spark, root, leafRoot, ents, fields,
                  Some(sc)), fields, scratch)
                ents.map(_._1 -> scratch)
            }.flatten.toMap
        }) catch {
          case e: LayoutValidationException =>
            scratches.foreach(deleteQuietly(spark, _))
            throw e
          case scala.util.control.NonFatal(_) => None
        }
      onBeforeValidate()
      try candidates = ManifestTable.withPublishLock(root) {
        scratchOf match {
          case None => selectReadSet(Some(candidates.keySet))
          case Some(sc) =>
            val (clean, dirty) = candidates.partition { case (k, d) =>
              live(k).contains(d) }
            if (clean.nonEmpty) {
              val base = baseMappingLocked(spark, root, leafRoot, liveKeys)
              // a key whose rewrite wrote no scratch subdir resolved to
              // zero rows: its (validated, still-live) read-set dir
              // supplies the empty version's schema
              val written = clean.keys.toSeq.sorted.groupBy(sc).toSeq
                .flatMap { case (scratch, ks) =>
                  adoptLeavesLocked(spark, root, Some(scratch), ks,
                    keepSnapshots, leafRoot,
                    k => resolveVersionData(spark, keyRoot(k), clean(k),
                      readSchema))
                }
              val mapping = (base ++ written).toSeq.sortBy(_._1)
              lastSnap = Some(writeSnapshotLocked(spark, root, mapping,
                keepSnapshots, recorded.orElse(deriveSchema(mapping)),
                operation = operation))
              done ++= clean.keys
            }
            // retry only the invalidated keys, against their NEW live
            // versions — and only if they still qualify
            selectReadSet(Some(dirty.keySet))
        }
      } finally scratches.foreach(deleteQuietly(spark, _))
    }
    (lastSnap.orElse(currentSnapshot(spark, root)).getOrElse(""),
      done.sorted.toSeq)
  }
}

object MergeOnRead {

  /** A layout action (clustered OPTIMIZE) was asked to do something it
    * can never succeed at — distinguished from the transient failures
    * the optimistic rewrite loop absorbs, so a misconfigured z-order
    * column fails LOUDLY instead of silently no-opping through its
    * retries. */
  final class LayoutValidationException(msg: String)
    extends IllegalArgumentException(msg)

  /** A clustered rewrite: range-split each key on `by` into `files`
    * internally-sorted files (0 = size-derived from `targetBytes`),
    * lexicographic or Morton-interleaved (`zOrder`, exactly two
    * columns). */
  final case class Clustering(by: Seq[String], files: Int,
      targetBytes: Long, zOrder: Boolean)

  private[engine] val MorFile = "_mor.tsv"

  /** Sort-order marker file a clustered rewrite stamps into its version
    * dirs (underscore-prefixed: readers never see it). */
  private val ClusterMarker = "_clustered.tsv"
}
