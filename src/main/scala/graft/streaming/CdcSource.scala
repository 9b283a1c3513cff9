package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.{PartitionedManifest, SpecManifest}

/** Structured Streaming SOURCE over a [[graft.engine.PartitionedManifest]]
  * table's commit history:
  *
  * {{{
  *   spark.readStream.format("graft-cdc")
  *     .option("root", tableRoot).option("partCol", "bk")
  *     .option("partType", "int").load()
  *   // composite-spec roots: .option("spec", spec.renderCompact)
  *   // catalog-NAMED (resolves root+spec through GraftCatalog, the
  *   // symmetric half of the graft-spec-table sink's option):
  *   spark.readStream.format("graft-cdc")
  *     .option("table", "g.db.t").load()
  * }}}
  *
  * Each micro-batch is the row-level diff between two snapshot commits
  * (insert/delete rows, an update = delete+insert) — the Delta CDF /
  * Iceberg incremental-read contract surfaced as a NATIVE stream, so the
  * whole Structured Streaming surface (transforms, watermarks,
  * foreachBatch sinks, checkpoint recovery) composes with the table
  * format. Offsets are snapshot GENERATIONS (the monotone numeric prefix
  * of the snapshot name), so a checkpoint survives restarts: resuming
  * replays exactly the committed-but-unprocessed generations.
  *
  * Semantics, all inherited from [[PartitionedManifest.changesBetween]]:
  *   - the diff is METADATA-FIRST: only partitions whose version
  *     directory moved between the offsets are listed, planned, or read
  *     — per batch, cost scales with the delta's partition footprint,
  *     never the table (at 100 TB a reader of a 0.1% delta touches 0.1%);
  *   - the FIRST batch bootstraps the whole table as inserts (the
  *     standard CDC-stream bootstrap; start the stream before the first
  *     commit to skip it);
  *   - schema evolution between offsets aligns to the newer snapshot's
  *     recorded schema;
  *   - a stream lagging past the keep-N horizon fails LOUDLY at offset
  *     resolution (the snapshot file is trimmed), never silently skips —
  *     the same reader-horizon contract as [[graft.engine.IncrementalConsumer]].
  *
  * V1 `Source` by design: `getBatch` returns a DataFrame, so the diff
  * rides the existing content-pinned readers (one relation node, real
  * pruning) instead of a hand-rolled row reader.
  */
class CdcSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    (shortName(),
      CdcSource.schemaFor(ctx, CdcSource.resolveTable(ctx, parameters)))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new CdcSource(ctx, CdcSource.resolveTable(ctx, parameters))
}

object CdcSource {
  private def opt(parameters: Map[String, String], key: String): String =
    parameters.getOrElse(key, sys.error(s"graft-cdc: missing option '$key'"))

  /** Catalog-NAMED source: `option("table", "g.db.t")` resolves root
    * and spec through the session's registered [[graft.sql.GraftCatalog]]
    * — the symmetric half of [[SpecTableSink]]'s `table` option, so a
    * pure-SQL-catalog user can tail changes without digging the
    * warehouse path or the compact spec string out of band. `ref`
    * still composes (branch audit streams). */
  private[streaming] def resolveTable(ctx: SQLContext,
      parameters: Map[String, String]): Map[String, String] =
    parameters.get("table") match {
      case None => parameters
      case Some(t) =>
        require(!parameters.contains("root") &&
          !parameters.contains("spec"),
          "graft-cdc: give either 'table' or 'root'+'spec', not both")
        val parts = t.split("\\.").toSeq.filter(_.nonEmpty)
        require(parts.length >= 2, s"graft-cdc: table '$t' must be " +
          "<catalog>.<namespace…>.<name>")
        org.apache.spark.sql.graft.ColumnBridge
          .catalogPlugin(ctx.sparkSession, parts.head) match {
          case g: graft.sql.GraftCatalog =>
            val r = g.rootOfTableName(parts.tail.mkString("."))
            parameters ++ Map("root" -> r,
              "spec" -> SpecManifest
                .specVersions(ctx.sparkSession, r).last.renderCompact)
          case other => sys.error(s"graft-cdc: catalog " +
            s"'${parts.head}' is ${other.getClass.getName}, not a " +
            "graft.sql.GraftCatalog")
        }
    }

  /** The stream schema: the CURRENT snapshot's recorded data columns +
    * the partition column + the change-type column. Fixed at stream
    * construction (Structured Streaming schemas are static); a stream
    * crossing a schema evolution restarts with the new shape. */
  private[streaming] def schemaFor(ctx: SQLContext,
      parameters: Map[String, String]): StructType = {
    val spark = ctx.sparkSession
    val root = opt(parameters, "root")
    val changeCol = parameters.getOrElse("changeCol", "_change_type")
    // COMPOSITE-SPEC table: data columns + the CURRENT spec's fields
    // (strings — they live in directory names) + the change column
    parameters.get("spec") match {
      case Some(sc) =>
        val spec = SpecManifest.parseCompact(sc)
        // a CATALOG-managed root streams under the catalog's CURRENT
        // LOGICAL schema (renames aliased, dropped columns hidden,
        // added ones NULL for old generations) — exactly what a SQL
        // read of the same table serves; a plain Scala-API root
        // streams the file-spelled columns
        val data =
          if (graft.sql.GraftSchemas.hasVersions(spark, root))
            graft.sql.GraftSchemas.current(spark, root).fields.toSeq
              .map(f => StructField(f.name, f.dataType, f.nullable))
          else SpecManifest.read(spark, root, spec).schema
            .filterNot(f => spec.names.contains(f.name))
        return StructType((data ++
          spec.names.map(StructField(_, StringType, nullable = true)))
          :+ StructField(changeCol, StringType, nullable = true))
      case None =>
    }
    val partCol = opt(parameters, "partCol")
    val partType = parameters.getOrElse("partType", "string")
    // a followed ref's head owns the schema (a branch may have evolved
    // ahead of main); otherwise the current snapshot's
    val headSnap = parameters.get("ref")
      .flatMap(r => PartitionedManifest.resolveRef(spark, root, Some(r)))
      .orElse(PartitionedManifest.currentSnapshot(spark, root))
    val data = headSnap
      .flatMap(sn => PartitionedManifest.snapshotSchema(spark, root, sn))
      .getOrElse(StructType(PartitionedManifest
        .read(spark, root, partCol, partType).schema
        .filterNot(_.name == partCol)))
    StructType(data.fields :+
      StructField(partCol,
        org.apache.spark.sql.types.DataType.fromDDL(partType)) :+
      StructField(changeCol, StringType, nullable = true))
  }

  /** Generation number of a snapshot name (`s%06d-uuid`). */
  private[streaming] def genOf(snap: String): Long =
    snap.drop(1).takeWhile(_.isDigit).toLong
}

class CdcSource(ctx: SQLContext, parameters: Map[String, String])
    extends Source {
  private val spark = ctx.sparkSession
  private val root = parameters.getOrElse("root",
    sys.error("graft-cdc: missing option 'root'"))
  // COMPOSITE-SPEC mode: pass `spec` (the compact render) instead of
  // partCol/partType — batches ride SpecManifest.changesBetween (leaf-
  // footprint-bounded on the composite key); a `ref` resolves through
  // the spec table's own tags/branches
  private val specOpt = parameters.get("spec")
    .map(graft.engine.SpecManifest.parseCompact)
  private lazy val partCol = parameters.getOrElse("partCol",
    sys.error("graft-cdc: missing option 'partCol'"))
  private val partType = parameters.getOrElse("partType", "string")
  private val changeCol = parameters.getOrElse("changeCol", "_change_type")
  // optional ref to FOLLOW instead of main: a BRANCH name streams the
  // branch's commits (the WAP composition — an audit stream tails the
  // 'audit' branch and sees staged batches main readers cannot), a TAG
  // pins the stream's end at that snapshot
  private val ref = parameters.get("ref")

  override val schema: StructType = CdcSource.schemaFor(ctx, parameters)

  private def longOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => sys.error(s"graft-cdc: unexpected offset $other")
  }

  /** Snapshot name at a generation. Fails LOUDLY when the generation is
    * past the keep-N horizon — a lagging stream must never silently
    * skip commits (re-bootstrap explicitly instead). */
  private def allSnapshots(): Seq[String] =
    PartitionedManifest.snapshots(spark, root) // either layout: one log

  private def snapAt(gen: Long): String =
    allSnapshots()
      .find(sn => CdcSource.genOf(sn) == gen)
      .getOrElse(sys.error(
        s"graft-cdc: snapshot generation $gen is past the keep-N " +
          s"horizon of $root - the stream lagged behind retention; " +
          "re-bootstrap from a fresh checkpoint"))

  override def getOffset: Option[Offset] = (ref match {
    case Some(r) =>
      val resolved = PartitionedManifest.resolveRef(spark, root, Some(r))
      require(resolved.exists(allSnapshots().contains),
        s"graft-cdc: ref '$r' does not resolve to a known snapshot " +
          s"of $root")
      resolved
    case None => PartitionedManifest.currentSnapshot(spark, root)
  }).map(sn => LongOffset(CdcSource.genOf(sn)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endSnap = snapAt(longOf(end))
    val batch = (start, specOpt) match {
      case (None, Some(spec)) =>
        SpecManifest.read(spark, root, spec, Some(endSnap))
          .withColumn(changeCol, lit("insert"))
      case (None, None) =>
        // bootstrap: the whole table at the end offset, as inserts
        PartitionedManifest.readSnapshot(spark, root, partCol, partType,
            Some(endSnap))
          .withColumn(changeCol, lit("insert"))
      case (Some(s), Some(spec)) =>
        SpecManifest.changesBetween(spark, root, spec,
          snapAt(longOf(s)), endSnap, changeCol)
      case (Some(s), None) =>
        PartitionedManifest.changesBetween(spark, root, partCol, partType,
          snapAt(longOf(s)), endSnap, changeCol)
    }
    // a catalog-managed root's diff carries PHYSICAL column spellings
    // (files never see logical renames) — alias them back to the
    // catalog's logical names before aligning to the stream schema
    val logical =
      if (!graft.sql.GraftSchemas.hasVersions(spark, root)) batch
      else graft.sql.GraftSchemas.current(spark, root).fields
        .foldLeft(batch) { (d, f) =>
          val p = graft.sql.GraftSchemas.physicalName(f)
          if (p != f.name && d.columns.contains(p))
            d.withColumnRenamed(p, f.name) else d
        }
    // column order pinned to the declared stream schema, absent fields
    // (an evolved spec table's old-generation diff) as NULL; V1
    // getBatch must hand back isStreaming=true (FileStreamSource)
    val aligned = logical.select(schema.fields.toSeq.map { f =>
      if (logical.columns.contains(f.name))
        org.apache.spark.sql.functions.col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    org.apache.spark.sql.graft.ColumnBridge
      .asStreamingDataFrame(spark, aligned)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
