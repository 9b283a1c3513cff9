package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.{ManifestTable, SpecManifest}

/** Structured Streaming SINK into a [[graft.engine.SpecManifest]]
  * table — [[TableSink]] generalized to COMPOSITE partition specs, the
  * write side a 100 TB ingest keyed on (day, bucket(id)) needs:
  *
  * {{{
  *   upserts.writeStream.format("graft-spec-table")
  *     .option("root", tableRoot)
  *     .option("spec", spec.renderCompact)   // y:o_orderdate:year;b:o_custkey:bucket[4]
  *     .option("keyCol", "k").outputMode("update")
  *     .option("checkpointLocation", ckpt).start()
  * }}}
  *
  * The sink DERIVES each row's leaf from the spec's transforms (hidden
  * partitioning — producers never supply partition values), groups the
  * micro-batch per touched leaf (leaf-count-bounded driver work), and
  * lands the whole batch as ONE atomic root snapshot commit. With
  * `mergeOnRead=true` and every touched leaf existing, the commit is a
  * [[SpecManifest.commitMerge]] — bytes written per batch scale with
  * the BATCH, never the hot leaf; batches that create leaves fall back
  * to the full-merge snapshot commit for that batch (new leaves always
  * land under the CURRENT spec — commitSnapshot enforces it, so the
  * sink composes with spec evolution: evolve the table, restart the
  * stream with the new spec option).
  *
  * EXACTLY-ONCE at commit granularity via the same per-sink
  * `_refs_stream/<sinkId>` batch ref as [[TableSink]]: replayed batch
  * ids are skipped, a crash between commit and ref lands on the
  * key-merge's idempotence.
  */
class SpecTableSinkProvider extends StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-spec-table"

  override def createSink(ctx: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new SpecTableSink(ctx, parameters)
}

class SpecTableSink(ctx: SQLContext, parameters: Map[String, String])
    extends Sink {
  private def opt(key: String): String = parameters.getOrElse(key,
    sys.error(s"graft-spec-table: missing option '$key'"))
  /** Either path-addressed (`root` + `spec` options) or catalog-NAMED:
    * `option("table", "g.db.t")` resolves through the session's
    * registered [[graft.sql.GraftCatalog]] — the streaming half of the
    * SQL surface (spec and schema come from the catalog, and batches
    * align to the table's CURRENT schema, so the sink composes with
    * ALTER TABLE). */
  private val (root: String, spec: SpecManifest.PartitionSpec) =
    parameters.get("table") match {
    case Some(t) =>
      val parts = t.split("\\.").toSeq.filter(_.nonEmpty)
      require(parts.length >= 2, s"graft-spec-table: table '$t' must " +
        "be <catalog>.<namespace…>.<name>")
      org.apache.spark.sql.graft.ColumnBridge
        .catalogPlugin(ctx.sparkSession, parts.head) match {
        case g: graft.sql.GraftCatalog =>
          val r = g.rootOfTableName(parts.tail.mkString("."))
          (r, SpecManifest.specVersions(ctx.sparkSession, r).last)
        case other => sys.error(s"graft-spec-table: catalog " +
          s"'${parts.head}' is ${other.getClass.getName}, not a " +
          "graft.sql.GraftCatalog")
      }
    case None => (opt("root"), SpecManifest.parseCompact(opt("spec")))
  }
  private val catalogNamed = parameters.contains("table")
  private val keyCol = opt("keyCol")
  // the id lands in a ref PATH under the table root: a ref name
  private val sinkId = SpecManifest.checkRefName(
    parameters.getOrElse("sinkId", "default"))
  /** Explicit option wins; a catalog-NAMED sink otherwise honors the
    * table's `graft.keep_snapshots` property (the retention a CDC
    * consumer of the same table relies on). */
  private val keepSnapshots = parameters.get("keepSnapshots").map(_.toInt)
    .getOrElse(if (catalogNamed) graft.sql.GraftProps.keepSnapshots(root)
    else 2)
  private val mergeOnRead =
    parameters.getOrElse("mergeOnRead", "false").toBoolean
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = ctx.sparkSession
    // replayed batch: already committed
    if (batchId <= SpecManifest.lastStreamBatch(spark, root, sinkId)) return
    val raw = org.apache.spark.sql.graft.ColumnBridge
      .asBatchDataFrame(spark, data)
    // a catalog-named sink aligns each batch to the table's CURRENT
    // schema (order, names, types — re-read per batch so a concurrent
    // ALTER TABLE takes effect at the next micro-batch), then renames
    // to the PHYSICAL column spellings (files never see logical
    // renames); the key column follows the same mapping
    val catSchema: Option[org.apache.spark.sql.types.StructType] =
      if (catalogNamed)
        Some(graft.sql.GraftSchemas.current(spark, root))
      else None
    val (batch, keyColPhys) = catSchema match {
      case None => (raw, keyCol)
      case Some(schema) =>
        (graft.sql.GraftSqlWrites.toPhysical(
          graft.sql.GraftSqlWrites.alignData(raw, schema), schema),
          graft.sql.GraftSchemas.physicalName(schema(keyCol)))
    }
    // derive each row's leaf through the writer-side transforms, then
    // freeze once: the incremental plan is only valid within this call
    val tagged = spec.fields.foldLeft(batch)((d, f) =>
      d.withColumn(f.name, f.derived)).localCheckpoint()
    // ONE job serves both the emptiness test and the touched-leaf
    // derivation (an empty batch collects zero leaf tuples)
    val ns = spec.names
    val touched: Seq[Seq[String]] = tagged
      .select(ns.head, ns.tail: _*).distinct().collect()
      .map(r => ns.indices.map(i => r.getString(i)))
      .toSeq.sortBy(_.mkString("/"))
    if (touched.nonEmpty) {
      def leafPathOf(vs: Seq[String]) = SpecManifest.leafPath(spec, vs)
      def leafOf(vs: Seq[String]): DataFrame =
        ns.zipWithIndex.foldLeft(tagged) { case (d, (n, i)) =>
          d.filter(col(n) === vs(i)) }.drop(ns: _*)
      val allExist = touched.forall(vs =>
        ManifestTable.currentVersion(s"$root/${leafPathOf(vs)}")
          .isDefined)
      // the DML commands' leafBottomSchema gate, mirrored: a leaf
      // whose physical file schema predates a catalog ALTER TABLE
      // cannot take current-shaped MOR deltas — route the batch
      // through the aligning copy-on-write branch instead (which
      // reshapes the stale leaf to the current schema as it rewrites),
      // so the stream keeps flowing across an ALTER instead of wedging
      val schemasOk = catSchema.forall { sc =>
        val phys = graft.sql.GraftSchemas.physicalSchema(sc)
          .map(f => (f.name, f.dataType)).toSeq
        touched.forall(vs =>
          ManifestTable.currentVersion(s"$root/${leafPathOf(vs)}")
            .isEmpty ||
          SpecManifest.leafBottomSchema(spark, root, spec, vs)
            .map(f => (f.name, f.dataType)) == phys)
      }
      if (mergeOnRead && allExist && schemasOk) {
        SpecManifest.commitMerge(spark, root, spec, Seq(keyColPhys),
          upserts = touched.map(vs => vs -> leafOf(vs)).toMap,
          keepSnapshots = keepSnapshots)
      } else {
        val updates = touched.map { vs =>
          val d = leafOf(vs)
          val merged =
            if (ManifestTable.currentVersion(
                s"$root/${leafPathOf(vs)}").isDefined) {
              // MOR-resolving read of the leaf's current content — a
              // catalog-named sink aligns it to the CURRENT schema
              // first (a stale-shaped leaf reshapes here, once)
              val cur0 = SpecManifest.readLeaf(spark, root, spec, vs)
              val cur = catSchema match {
                case None => cur0
                case Some(sc) => graft.sql.GraftSqlWrites.toPhysical(
                  graft.sql.GraftSqlWrites.alignData(cur0, sc,
                    fromFiles = true), sc)
              }
              cur.join(d.select(col(keyColPhys)), Seq(keyColPhys), "left_anti")
                .unionByName(d)
            } else d // brand-new leaf (current-spec-only, enforced)
          vs -> merged
        }.toMap
        SpecManifest.commitSnapshot(spark, root, spec, updates,
          keepSnapshots)
      }
    }
    // AFTER the commit (see SnapshotLog.recordStreamBatch)
    SpecManifest.recordStreamBatch(root, sinkId, batchId)
  }

  override def toString: String = s"GraftSpecTableSink($root)"
}
