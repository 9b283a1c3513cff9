package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.{ManifestTable, PartitionedManifest}

/** Structured Streaming SINK into a [[graft.engine.PartitionedManifest]]
  * table — the write-side complement of [[CdcSource]]:
  *
  * {{{
  *   upserts.writeStream.format("graft-table")
  *     .option("root", tableRoot).option("partCol", "bk")
  *     .option("keyCol", "k").outputMode("update")
  *     .option("checkpointLocation", ckpt).start()
  * }}}
  *
  * Every micro-batch folds in as ONE atomic snapshot commit: each
  * touched partition's current version anti-joins the batch's keys and
  * unions the delta (the w03 MERGE shape — EventsStreaming
  * .mergePublishBatch's contract, surfaced as a registered sink), so
  * readers see the whole micro-batch across every touched partition or
  * none of it, and partitions no batch touches are never rewritten.
  *
  * EXACTLY-ONCE at commit granularity: the last committed batchId rides
  * in a `_stream_batch` ref under the table root (same atomic pointer
  * machinery as everything else — CAS on object stores). A batch replay
  * after a crash-between-commit-and-checkpoint is SKIPPED, not
  * re-merged, so a snapshot / CDC reader never sees a duplicate commit
  * for one input batch. Multiple concurrent streams into one table need
  * distinct `sinkId` options (the ref is per sink).
  *
  * At 100 TB: per batch, cost = the delta's partition footprint (read
  * current + rewrite of ONLY the touched partitions) — a micro-batch is
  * just a small delta, exactly the batch MERGE's posture.
  */
class TableSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  override def createSink(ctx: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new TableSink(ctx, parameters)
}

class TableSink(ctx: SQLContext, parameters: Map[String, String])
    extends Sink {
  private def opt(key: String): String = parameters.getOrElse(key,
    sys.error(s"graft-table: missing option '$key'"))
  private val root = opt("root")
  private val partCol = opt("partCol")
  private val keyCol = opt("keyCol")
  // the id lands in a ref PATH under the table root: a ref name
  private val sinkId = PartitionedManifest.checkRefName(
    parameters.getOrElse("sinkId", "default"))
  private val keepSnapshots =
    parameters.getOrElse("keepSnapshots", "2").toInt
  // merge-on-read mode: each micro-batch lands as ONE commitMerge —
  // bytes written per batch scale with the BATCH, not the touched
  // partitions (the copy-on-write path rewrites every touched
  // partition's full content per batch: write amplification =
  // partition size / batch size on a hot partition). Batches that
  // CREATE a partition fall back to the full-rewrite commit for that
  // batch (MOR can only layer on existing partitions).
  private val mergeOnRead =
    parameters.getOrElse("mergeOnRead", "false").toBoolean
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = ctx.sparkSession
    // replayed batch: already committed
    if (batchId <= PartitionedManifest.lastStreamBatch(spark, root, sinkId))
      return
    // the incoming DataFrame is streaming-tagged (V1 Sink contract) —
    // re-present it as a batch plan over the same incremental
    // execution (the MemorySink pattern), then freeze it once: it is
    // only valid within this call, and the merge reads it per partition
    val batch = org.apache.spark.sql.graft.ColumnBridge
      .asBatchDataFrame(spark, data)
    val delta = batch.localCheckpoint()
    // ONE job serves both the emptiness test and the touched-partition
    // derivation (an empty batch collects zero partition values)
    val touched = delta.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    if (touched.nonEmpty) {
      val allExist = touched.forall(v =>
        ManifestTable.currentDataDir(s"$root/$partCol=$v").isDefined)
      if (mergeOnRead && allExist) {
        // ONE atomic MOR commit: per touched partition, only the
        // batch's own rows hit disk (upsert-by-key — the same merged
        // content the rewrite path produces, deferred to read/compact)
        val upserts = touched.map { v =>
          v -> delta.filter(col(partCol).cast("string") === v)
            .drop(partCol)
        }.toMap
        PartitionedManifest.commitMerge(spark, root, partCol,
          Seq(keyCol), upserts, keepSnapshots = keepSnapshots)
      } else {
        val updates = touched.map { v =>
          val d = delta.filter(col(partCol).cast("string") === v)
            .drop(partCol)
          val merged =
            ManifestTable.currentDataDir(s"$root/$partCol=$v") match {
              case Some(_) =>
                // MOR-resolving read of the partition's current content
                val cur = PartitionedManifest.readPartition(spark, root,
                  partCol, v)
                cur.join(d.select(col(keyCol)), Seq(keyCol), "left_anti")
                  .unionByName(d)
              case None => d // brand-new partition
            }
          v -> merged
        }.toMap
        PartitionedManifest.commitSnapshot(spark, root, partCol, updates,
          keepSnapshots)
      }
    }
    // AFTER the commit (see SnapshotLog.recordStreamBatch)
    PartitionedManifest.recordStreamBatch(root, sinkId, batchId)
  }

  override def toString: String = s"GraftTableSink($root)"
}
