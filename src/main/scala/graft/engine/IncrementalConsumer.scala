package graft.engine

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exactly-once incremental consumption over a snapshot-committed
  * [[PartitionedManifest]] table — the downstream half of the CDC story
  * ([[PartitionedManifest.changesBetween]] derives the per-commit diff;
  * this drives a lagging consumer through the commit history with a
  * crash-safe cursor), the same production shape as a Delta CDF reader
  * or an Iceberg incremental scan feeding a sink.
  *
  * The cursor is one pointer file (the [[ManifestTable]] machinery:
  * atomic rename locally, conditional PUT on object stores) naming the
  * last FULLY PROCESSED snapshot. Each [[consumeOnce]] call:
  *
  *   1. resolves the cursor and the table's current snapshot;
  *   2. if they differ, computes `changesBetween(cursor, current)` and
  *      hands it to `process` together with the (from, to) pair;
  *   3. advances the cursor to `current` ONLY after `process` returns.
  *
  * A crash between 2 and 3 replays the SAME (from, to) diff on the next
  * call — delivery is at-least-once with a DETERMINISTIC replay, so a
  * sink keyed by the snapshot pair (the foreachBatch batchId contract)
  * gets effective exactly-once. The diff itself is metadata-first: an
  * idle consumer costs two pointer reads, a lagging one costs exactly
  * the changed partitions' bytes.
  *
  * HORIZON: the cursor must stay within the table's keep-N snapshot
  * horizon. A consumer lagging PAST it fails LOUDLY on the next call
  * (the expired snapshot file is gone — [[PartitionedManifest
  * .snapshotMapping]] throws); it can never silently skip commits.
  * Recover by re-bootstrapping ([[bootstrap]]) — the explicit choice
  * the Iceberg/Delta CDF consumers also force. Size keepSnapshots to
  * the consumer's worst-case lag.
  *
  * Reference analogue: the packet tracker's resume contract (E8/E25 —
  * completed work is never re-executed, interrupted work replays) moved
  * from action granularity to commit granularity. */
object IncrementalConsumer {

  /** The last fully-processed snapshot, if any — the cursor dir's
    * pointer file, read through the same machinery as a manifest root
    * (so an object-store-backed cursor dir resolves via its
    * [[PointerStore]] too). */
  def cursor(spark: SparkSession, cursorDir: String): Option[String] =
    ManifestTable.currentVersion(cursorDir)

  /** The snapshot a consumer targets on either layout (both share
    * [[SnapshotLog]]): main's current snapshot, or —
    * BRANCH-AWARE consumption (the audit half of write-audit-publish:
    * quality gates tail the staged commits BEFORE fastForward makes
    * them live) — the named branch's head. Branch snapshots live in
    * the shared generation-ordered history, so cursors and diffs work
    * identically; after a fastForward, main's current snapshot IS the
    * branch head the consumer already processed — the next call sees
    * from == to and emits nothing (EngineSpec pins the no-re-emission). */
  private def headOf(spark: SparkSession, root: String,
      ref: Option[String]): String = ref match {
    case None => PartitionedManifest.currentSnapshot(spark, root)
      .getOrElse(sys.error(
        s"IncrementalConsumer: no snapshot committed under $root"))
    case Some(r) => PartitionedManifest.branchHead(spark, root, r)
      .getOrElse(sys.error(s"IncrementalConsumer: no branch '$r' " +
        s"under $root"))
  }

  /** BOOTSTRAP: process the table's full target snapshot (every row as
    * an 'insert'), then set the cursor to it. For a brand-new consumer,
    * or to recover one that lagged past the horizon. `ref` targets a
    * branch head instead of main. Returns the snapshot the cursor now
    * names. */
  def bootstrap(spark: SparkSession, root: String, partCol: String,
      partType: String, cursorDir: String, ref: Option[String] = None)(
      process: (DataFrame, String) => Unit): String = {
    val snap = headOf(spark, root, ref)
    process(PartitionedManifest.readSnapshot(spark, root, partCol,
      partType, Some(snap)), snap)
    advance(spark, cursorDir, snap)
    snap
  }

  /** One consumption step: process the diff between the cursor and the
    * target head (main's current snapshot, or `ref`'s branch head),
    * advance the cursor after `process` returns. None when the
    * consumer is already caught up (two pointer reads, no Spark job).
    * Fails loudly if the cursor was never bootstrapped or has expired
    * past the table's keep-N horizon. */
  def consumeOnce(spark: SparkSession, root: String, partCol: String,
      partType: String, cursorDir: String, ref: Option[String] = None)(
      process: (DataFrame, String, String) => Unit)
      : Option[(String, String)] = {
    val from = cursor(spark, cursorDir).getOrElse(sys.error(
      s"IncrementalConsumer: no cursor under $cursorDir - bootstrap first"))
    val to = headOf(spark, root, ref)
    if (from == to) None
    else {
      // throws loudly if `from` expired past the keep-N horizon — a
      // lagging consumer must re-bootstrap, never silently skip
      val diff = PartitionedManifest.changesBetween(spark, root, partCol,
        partType, from, to)
      process(diff, from, to)
      advance(spark, cursorDir, to)
      Some((from, to))
    }
  }

  /** Drain: consume until caught up (bounded by the commit count —
    * each step jumps to the CURRENT head, so this loops at most
    * once per concurrent commit landing mid-drain, `maxSteps` guards
    * a pathological commit storm). */
  def drain(spark: SparkSession, root: String, partCol: String,
      partType: String, cursorDir: String, maxSteps: Int = 100,
      ref: Option[String] = None)(
      process: (DataFrame, String, String) => Unit)
      : Seq[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var steps = 0
    var more = true
    while (more && steps < maxSteps) {
      consumeOnce(spark, root, partCol, partType, cursorDir, ref)(
          process) match {
        case Some(p) => out += p; steps += 1
        case None => more = false
      }
    }
    out.result()
  }

  private def advance(spark: SparkSession, cursorDir: String,
      snap: String): Unit = {
    val fs = new HPath(cursorDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new HPath(cursorDir))
    ManifestTable.swapRootPointer(cursorDir, snap)
  }

  // ---------------------------------------------------------------------
  // COMPOSITE-SPEC tables: the same cursor machinery over
  // [[SpecManifest]] — diffs are leaf-footprint-bounded on the
  // composite key, branch-aware consumption tails a spec branch's
  // staged commits, and every horizon/replay contract carries over
  // (the cursor file format is identical, so a consumer can even be
  // inspected with the same tooling).

  import graft.engine.SpecManifest.PartitionSpec

  /** [[bootstrap]] for a composite-spec table. */
  def bootstrapSpec(spark: SparkSession, root: String,
      spec: PartitionSpec, cursorDir: String,
      ref: Option[String] = None)(
      process: (DataFrame, String) => Unit): String = {
    val snap = headOf(spark, root, ref)
    process(SpecManifest.read(spark, root, spec, Some(snap)), snap)
    advance(spark, cursorDir, snap)
    snap
  }

  /** [[consumeOnce]] for a composite-spec table. */
  def consumeOnceSpec(spark: SparkSession, root: String,
      spec: PartitionSpec, cursorDir: String,
      ref: Option[String] = None)(
      process: (DataFrame, String, String) => Unit)
      : Option[(String, String)] = {
    val from = cursor(spark, cursorDir).getOrElse(sys.error(
      s"IncrementalConsumer: no cursor under $cursorDir - bootstrap first"))
    val to = headOf(spark, root, ref)
    if (from == to) None
    else {
      val diff = SpecManifest.changesBetween(spark, root, spec, from, to)
      process(diff, from, to)
      advance(spark, cursorDir, to)
      Some((from, to))
    }
  }

  /** [[drain]] for a composite-spec table. */
  def drainSpec(spark: SparkSession, root: String, spec: PartitionSpec,
      cursorDir: String, maxSteps: Int = 100,
      ref: Option[String] = None)(
      process: (DataFrame, String, String) => Unit)
      : Seq[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    var steps = 0
    var more = true
    while (more && steps < maxSteps) {
      consumeOnceSpec(spark, root, spec, cursorDir, ref)(process) match {
        case Some(p) => out += p; steps += 1
        case None => more = false
      }
    }
    out.result()
  }
}
