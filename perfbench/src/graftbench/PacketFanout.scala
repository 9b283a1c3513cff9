package graftbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.types.LongType

import graft.engine.{ActionTracker, Engine, PacketLoader, RunResult, RunSpec, StepOutcome, Target}

/** Tracked packets with generator fan-out through `Engine.run`: each
  * cycle runs the int4->int8 migration (one generator row, and so one
  * single-partition action, per id batch) and the keyed-upsert packet
  * (publishes through PartitionedManifest) fresh, then re-runs both,
  * which must skip every action. Every cycle starts from empty tracker
  * state and empty packet roots, and deletes them at its end. */
final class PacketFanout extends Workload {
  val name = "packet_fanout"

  private val Migrate = "test_int4_to_int8"
  private val Upsert = "test_merge"
  /** generator rows of the migration: batches of `grain` ids */
  val Batches = 8
  private val TargetName = "bench"

  private var customers: Seq[(Long, String, Double)] = Nil
  private var maxOrderKey = 0L
  private var reference: Option[Seq[Any]] = None
  private val stored = mutable.Map.empty[Int, Long]
  private final case class Counts(actions: Long, publishActions: Long, stateBytes: Long, loaderMs: Double)
  private val counts = mutable.Map.empty[Int, Counts]

  def prepare(ctx: Ctx): Unit = {
    // the model's inputs, read with plain Spark
    customers = ctx.spark.read.parquet(s"${ctx.fixtures}/customer.parquet")
      .selectExpr("c_custkey", "c_name", "c_acctbal").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    maxOrderKey = ctx.spark.read.parquet(s"${ctx.fixtures}/orders.parquet")
      .selectExpr("max(o_orderkey)").head().getLong(0)
    reference = None
    // the program's set-up: the publish steps registered, both packets parsed
    graft.engine.PartitionedManifest.ensurePacketPublishSteps()
    val (migPl, upsPl) = placeholders(ctx.data.resolve("setup"))
    PacketLoader.load(s"${ctx.packetsRoot}/$Migrate", migPl)
    PacketLoader.load(s"${ctx.packetsRoot}/$Upsert", upsPl)
  }

  /** Placeholders of the migration and the upsert packet, with their
    * packet roots (created) under `root`. */
  private def placeholders(root: java.nio.file.Path): (Map[String, String], Map[String, String]) = {
    def dir(n: String): String = { val p = root.resolve(n); Files.createDirectories(p); p.toString }
    val grain = (maxOrderKey + Batches) / Batches
    (Map("bk_grain" -> grain.toString, "mig_src" -> dir("mig_src"), "mig_dst" -> dir("mig_dst"),
      "mig_catch" -> dir("mig_catch")),
      Map("mrg_src" -> dir("mrg_src"), "mrg_delta" -> dir("mrg_delta"), "mrg_stage" -> dir("mrg_stage")))
  }

  /** The upserted table as the packet must leave it (packets/test_merge:
    * every 100th key updated, keys k % 97 == 0 added as new customers). */
  private def upsertModel: Seq[(Long, String, Double, Int)] =
    customers.map { case (k, n, b) =>
      if (k % 100 == 0) (k, n + " (upd)", b + 100.0, (k % 20).toInt) else (k, n, b, (k % 20).toInt)
    } ++ customers.filter(_._1 % 97 == 0).map { case (k, _, _) =>
      (1000000L + k * 20 + 1, s"new customer $k", 0.0, 1)
    }

  private def actions(r: RunResult, step: Option[String] = None): Long =
    r.stepResults.getOrElse(TargetName, Map.empty).collect {
      case (s, StepOutcome.Done(n)) if step.forall(_ == s) => n
    }.sum

  def cycle(ctx: Ctx, c: Int): Unit = {
    val spark = ctx.spark
    val root = ctx.data.resolve(s"packets_c$c")
    val (migPl, upsPl) = placeholders(root)
    val grain = migPl("bk_grain").toLong
    val stateRoot = root.resolve("state").toString
    val packetsRoot = ctx.packetsRoot
    val engine = new Engine(spark, Seq(Target(TargetName, ctx.fixtures)), stateRoot, packetsRoot)
    def run(packet: String, pl: Map[String, String]): RunResult =
      engine.run(RunSpec("run", packet, TargetName, sequential = true, placeholders = pl))

    // the loader layer on its own (trace runs): parse + placeholder pass
    val loaderMs = ctx.tracer.fold(0.0) { t =>
      val t0 = System.nanoTime()
      t.span("loader.load", c) {
        PacketLoader.load(s"$packetsRoot/$Migrate", migPl)
        PacketLoader.load(s"$packetsRoot/$Upsert", upsPl)
      }
      (System.nanoTime() - t0) / 1e6
    }
    val fresh = Seq(ctx.op("fresh.migrate")(run(Migrate, migPl)),
      ctx.op("fresh.upsert")(run(Upsert, upsPl)))
    val stateBytes = Main.treeBytes(java.nio.file.Paths.get(stateRoot))
    val resumed = Seq(ctx.op("resume.migrate")(run(Migrate, migPl)),
      ctx.op("resume.upsert")(run(Upsert, upsPl)))

    (fresh ++ resumed).zip(Seq("fresh migrate", "fresh upsert", "resume migrate", "resume upsert"))
      .foreach { case (r, what) =>
        r.foreach(x => ctx.check(x.resultCode.get(TargetName).contains("success") &&
          x.packetStatus.get(TargetName).contains("done"),
          s"$what: ${x.resultCode} ${x.packetStatus} ${x.notices.mkString("; ")}"))
      }
    if (fresh.forall(_.isDefined) && resumed.forall(_.isDefined)) {
      val Seq(fm, fu) = fresh.flatten
      resumed.flatten.foreach(r => ctx.check(actions(r) == 0, s"resume ran ${actions(r)} actions"))
      // migration: a plain Spark read of the swapped table
      val mig = spark.table("test_tbl")
      ctx.check(mig.schema("id").dataType == LongType, s"migrated id type ${mig.schema("id").dataType}")
      val statsDf = mig.selectExpr("CAST(count(*) AS BIGINT) AS n_rows", "CAST(min(id) AS BIGINT) AS min_id",
        "CAST(max(id) AS BIGINT) AS max_id", "CAST(sum(id) AS BIGINT) AS sum_id")
      val stats = statsDf.collect().toSeq
      reference match {
        case None =>
          ctx.oracle("packet_migration", """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(min(o_orderkey) AS BIGINT) AS min_id, CAST(max(o_orderkey) AS BIGINT) AS max_id,
              CAST(sum(o_orderkey) AS BIGINT) AS sum_id FROM orders""", statsDf, stats)
          reference = Some(stats.head.toSeq)
        case Some(ref) => ctx.check(stats.head.toSeq == ref, s"migration stats ${stats.head} != $ref")
      }
      // upsert: exact multiset against the model
      val got = spark.sql("SELECT c_custkey, c_name, c_acctbal, bk FROM mrg_tbl").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      ctx.check(got.sorted == upsertModel.sorted,
        s"upserted table differs from the model (${got.size} vs ${upsertModel.size} rows)")
      // the tracker holds exactly one hash per generator row
      val tracker = new ActionTracker(spark, s"$stateRoot/$TargetName")
      val deltaLeaves = upsertModel.filter { case (k, _, _, _) => k % 100 == 0 || k > 1000000L }
        .map(_._4).distinct.size
      Seq((Migrate, "02_step.sql", (maxOrderKey / grain + 1).toInt),
          (Upsert, "02_step.sql", deltaLeaves), (Upsert, "04_step.sql", deltaLeaves)).foreach {
        case (p, s, want) =>
          val have = tracker.executedHashes(p, s).size
          ctx.check(have == want, s"tracker holds $have hashes for $p/$s, generator rows $want")
      }
      counts(c) = Counts(actions(fm) + actions(fu),
        actions(fu, Some("01_step.py")) + actions(fu, Some("03_step.py")), stateBytes, loaderMs)
    }
    stored(c) = Main.treeBytes(root)

    // clean-up: catalog entries, then every directory the cycle made
    spark.sql("SHOW TABLES").collect().filterNot(_.getBoolean(2))
      .foreach(r => spark.sql(s"DROP TABLE IF EXISTS `${r.getString(1)}`"))
    Main.deleteTree(root)
  }

  def storedBytes(c: Int): Long = stored.getOrElse(c, 0L)

  private def wall(ctx: Ctx, cycles: Seq[Int], ops: String*): Double =
    Stats.median(cycles.map(c => ctx.samples.filter(s => s.cycle == c && ops.contains(s.op)).map(_.wallMs).sum))

  def opFigures(ctx: Ctx, cycles: Seq[Int]): Seq[Metric] = {
    val runnerMs = cycles.flatMap(c => counts.get(c).filter(_.actions > 0).map(k =>
      ctx.samples.filter(s => s.cycle == c && s.op.startsWith("fresh.")).map(_.wallMs).sum / k.actions))
    Seq(Metric("packet_s", wall(ctx, cycles, "fresh.migrate", "fresh.upsert") / 1e3, "s"),
      Metric("resume_s", wall(ctx, cycles, "resume.migrate", "resume.upsert") / 1e3, "s"),
      Metric("runner.ms_per_action", if (runnerMs.isEmpty) 0.0 else Stats.median(runnerMs), "ms")) ++
      ctx.tracer.map(_ => Metric("loader.load_ms",
        Stats.median(cycles.map(c => counts.get(c).fold(0.0)(_.loaderMs))), "ms"))
  }

  def layerMetrics(ctx: Ctx, cycles: Seq[Int]): Map[String, Double] = ctx.tracer match {
    case None => Map.empty
    case Some(t) =>
      def med(f: Int => Double) = Stats.median(cycles.map(f))
      def k(c: Int) = counts.getOrElse(c, Counts(0, 0, 0, 0))
      val fresh = (c: Int) => t.cost(c, _.startsWith("fresh."))
      val upsert = (c: Int) => t.cost(c, _ == "fresh.upsert")
      Map(
        "runner.actions" -> med(k(_).actions.toDouble),
        "runner.jobs_per_action" -> med(c => if (k(c).actions == 0) 0.0 else fresh(c).jobs.toDouble / k(c).actions),
        "tracker.jobs" -> med(fresh(_).layerJobs("tracker").toDouble),
        "tracker.resume_jobs" -> med(t.cost(_, _.startsWith("resume.")).jobs.toDouble),
        "tracker.state_kb" -> med(k(_).stateBytes / 1024.0),
        "manifest.jobs_per_publish" -> med(c => if (k(c).publishActions == 0) 0.0
          else upsert(c).layerJobs("manifest").toDouble / k(c).publishActions))
  }
}
