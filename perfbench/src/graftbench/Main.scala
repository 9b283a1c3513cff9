package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.GraftBenchShim
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed operation. cpuMs is the CPU time the process's own threads
  * spent meanwhile: the client's, Spark's task, broadcast and subquery
  * threads' and the program's worker pools'. The JVM's internal threads
  * are apart: jitMs (the JIT compilers) and vmMs (GC and the VM's other
  * threads), whose share of a first cycle varies from run to run. */
final case class Sample(workload: String, cycle: Int, op: String, wallMs: Double,
    cpuMs: Double, jitMs: Double, vmMs: Double, jobs: Int, failed: Boolean)

/** CPU time of the whole process, split into the JVM's internal threads,
  * which HotSpot counts apart, and the rest. */
final case class CpuTimes(processNs: Long, jitNs: Long, vmNs: Long) {
  def programNs: Long = processNs - jitNs - vmNs
  def -(o: CpuTimes): CpuTimes = CpuTimes(processNs - o.processNs, jitNs - o.jitNs, vmNs - o.vmNs)
}

object CpuTimes {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val hotspot = sun.management.ManagementFactoryHelper.getHotspotThreadMBean

  /** Internal threads that end take their time out of the internal sum,
    * so the JVM runs with a fixed set of compiler threads
    * (-XX:-UseDynamicNumberOfCompilerThreads, set by run.py). */
  def now(): CpuTimes = {
    var jit, vm = 0L
    hotspot.getInternalThreadCpuTimes.forEach { (name, ns) =>
      val t = math.max(0L, ns.longValue)
      if (name.contains("CompilerThread")) jit += t else vm += t
    }
    CpuTimes(os.getProcessCpuTime, jit, vm)
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload sees of the run: the session, its directories, and
  * the recorder every timed operation goes through. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val fixtures: String, val data: Path, val outDir: Path,
    val packetsRoot: String, val tracer: Option[Tracer]) {

  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  /** oracle SQL of the results under outDir/oracle, which the runner
    * compares in DuckDB after the run */
  val oracleSql = mutable.LinkedHashMap.empty[String, String]
  private var cycle = 0
  private var cycleFailed = false

  /** Time one operation. Once an operation of a cycle has failed, the
    * rest of that cycle's operations count as failed without running. */
  def op[A](name: String)(body: => A): Option[A] = {
    if (cycleFailed) {
      samples += Sample(workload, cycle, name, 0.0, 0.0, 0.0, 0.0, 0, failed = true)
      None
    } else {
      val sc = spark.sparkContext
      // the listener events of untimed work before this operation are
      // delivered before its counters are read, and its own before the
      // counters are read again, so neither lands in the other
      GraftBenchShim.drainListenerBus(sc)
      val fs0 = FsStats.now()
      val ph0 = PlanningPhases.totals
      val j0 = GraftBenchShim.jobsSubmitted(sc)
      val cpu0 = CpuTimes.now()
      val t0 = System.nanoTime()
      def record(failed: Boolean): Unit = {
        val wallMs = (System.nanoTime() - t0) / 1e6
        val jobs = GraftBenchShim.jobsSubmitted(sc) - j0
        GraftBenchShim.drainListenerBus(sc)
        val cpu = CpuTimes.now() - cpu0
        samples += Sample(workload, cycle, name, wallMs, cpu.programNs / 1e6,
          cpu.jitNs / 1e6, cpu.vmNs / 1e6, jobs, failed)
        tracer.foreach { _ =>
          fsPerCycle(cycle) = fsPerCycle.getOrElse(cycle, FsStats.zero) + (FsStats.now() - fs0)
          val ph = PlanningPhases.totals
          val (e, an, pl) = phasesPerCycle.getOrElse(cycle, (0L, 0L, 0L))
          phasesPerCycle(cycle) = (e + ph._1 - ph0._1, an + ph._2 - ph0._2, pl + ph._3 - ph0._3)
        }
      }
      try {
        val r = tracer.fold(body)(_.span(name, cycle)(body))
        record(failed = false)
        Some(r)
      } catch {
        case NonFatal(e) =>
          record(failed = true)
          System.err.println(s"[graftbench] $workload cycle $cycle: $name failed: $e")
          cycleFailed = true
          None
      }
    }
  }

  /** Filesystem and planning-phase totals of each cycle's timed
    * operations (trace runs only). */
  val fsPerCycle = mutable.Map.empty[Int, FsStats]
  val phasesPerCycle = mutable.Map.empty[Int, (Long, Long, Long)]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      val msg = s"$workload cycle $cycle: $what"
      failures += msg
      System.err.println(s"[graftbench] CHECK FAILED $msg")
    }

  /** Hand `rows` to the runner, which compares them with `sql` evaluated
    * by DuckDB over the fixture tables. */
  def oracle(name: String, sql: String, df: DataFrame, rows: Seq[Row]): Unit = {
    val dir = outDir.resolve("oracle").resolve(name).toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    oracleSql(name) = sql
  }

  def inCycle[A](c: Int)(body: => A): A = {
    cycle = c
    cycleFailed = false
    tracer.fold(body)(_.span("cycle", c)(body))
  }
}

/** A benchmark workload: one closed-loop client running whole cycles of
  * the same operations, each cycle starting from the same state. */
trait Workload {
  def name: String
  /** one set-up, run several times before the cycles: what the program
    * does before the first timed operation (for `table_dml` a seeding of
    * the table), and the models the checks use */
  def prepare(ctx: Ctx): Unit
  /** one cycle: timed operations, checks of every output, clean-up */
  def cycle(ctx: Ctx, c: Int): Unit
  /** bytes the workload keeps on disk, measured at the end of cycle `c`
    * (0 where it writes nothing) */
  def storedBytes(c: Int): Long
  /** figures of single operations kept in the run's summary file */
  def opFigures(ctx: Ctx, cycles: Seq[Int]): Seq[Metric]
  /** the traced run's per-layer counts that only this workload produces */
  def layerMetrics(ctx: Ctx, cycles: Seq[Int]): Map[String, Double]
}

object Main {
  val all: Map[String, () => Workload] = Map(
    "packet_fanout" -> (() => new PacketFanout),
    "table_dml" -> (() => new TableDml),
    "query_mix" -> (() => new QueryMix))

  final case class Args(workloads: Seq[String], fixtures: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, smoke: Boolean, work: Path, out: Path,
      packets: String, cores: Int)

  /** set-ups per run; the median is `setup_s` */
  val SetupRuns = 5

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload").split(",").toSeq
    wl.foreach(w => require(all.contains(w), s"unknown workload $w (${all.keys.toSeq.sorted.mkString(", ")})"))
    // the input fixtures of each workload, written before the JVM starts
    val fx = need("fixtures").split(",").toSeq
    require(fx.size == wl.size, "one --fixtures directory per workload")
    Args(wl, fx, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("smoke").contains("1"), Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath,
      new File(need("packets")).getAbsolutePath, need("cores").toInt)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.out)
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.catalog.gsql", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.gsql.warehouse", a.work.resolve("gsql").toString)
    if (a.trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var exit = 0
    try a.workloads.zip(a.fixtures).foreach { case (w, fx) => runOne(spark, a, all(w)(), fx, sessionS) }
    catch { case NonFatal(e) =>
      System.err.println(s"[graftbench] run aborted: $e")
      e.printStackTrace()
      exit = 1
    } finally spark.stop()
    System.exit(exit)
  }

  /** The arithmetic and scheduler canaries of `graft.Bench`, same shapes:
    * host slowness shows in them, a slower program does not. */
  private def canaries(spark: SparkSession): (Double, Double) = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val arith = time(spark.range(50000000L).selectExpr("sum(id * 2 + 1) AS s").head())
    val sched = time(spark.range(0L, 640L, 1L, 640)
      .groupBy(org.apache.spark.sql.functions.expr("id % 64")).count().count())
    (arith, sched)
  }

  private def runOne(spark: SparkSession, a: Args, w: Workload, fixtures: String,
      sessionS: Double): Unit = {
    val data = a.work.resolve(w.name).resolve("data")
    val outDir = a.out.resolve(w.name)
    deleteTree(outDir)
    Files.createDirectories(outDir)
    val runId = s"${w.name}-${a.seed}-${if (a.trace) "traced" else "plain"}-${System.currentTimeMillis()}"
    val tracer = if (a.trace) Some(new Tracer(spark, runId)) else None
    val ctx = new Ctx(spark, w.name, a.seed, fixtures, data, outDir, a.packets, tracer)

    // set-up, repeated; the JVM and Spark session start before it
    // (`session_s` in the summary) is not the program's and is left out
    val setupRuns = (1 to (if (a.smoke) 1 else SetupRuns)).map { _ =>
      val t0 = System.nanoTime()
      deleteTree(data)
      Files.createDirectories(data)
      w.prepare(ctx)
      (System.nanoTime() - t0) / 1e9
    }

    val canaryStart = canaries(spark)
    // cycles start in a fresh JVM, as a packet run from the command line
    // does: the first one includes the JIT and Spark code generation of
    // every operation's first execution. Its results go to DuckDB.
    val measured = mutable.ArrayBuffer.empty[Int]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    while (measured.isEmpty || (!a.smoke && System.nanoTime() < deadline)) {
      val c = measured.size + 1
      ctx.inCycle(c)(w.cycle(ctx, c))
      measured += c
    }
    val canaryEnd = canaries(spark)

    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val timed = ctx.samples.toSeq
    val ok = timed.filterNot(_.failed)
    val opNames = ok.map(_.op).distinct
    val opMedians = opNames.map(n => Stats.median(ok.filter(_.op == n).map(_.wallMs).toSeq))
    def perCycle(f: Sample => Double): Double =
      Stats.median(measured.toSeq.map(c => ok.filter(_.cycle == c).map(f).sum))
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupRuns), "s"),
      Metric("cycle_cpu_s", perCycle(_.cpuMs) / 1e3, "s"),
      Metric("cycle_jobs", perCycle(_.jobs.toDouble), "count"),
      Metric("live_heap_mb", heapMb, "MB"))
    // wall time and the JVM's own CPU: on every run's line and in the
    // summary, not gated metrics
    val opFigures = Seq(Metric("cycle_s", perCycle(_.wallMs) / 1e3, "s"),
      Metric("cycle_jit_cpu_s", perCycle(_.jitMs) / 1e3, "s"),
      Metric("cycle_vm_cpu_s", perCycle(_.vmMs) / 1e3, "s"),
      Metric("op_geomean_ms", math.exp(opMedians.map(math.log).sum / opMedians.size), "ms")) ++
      w.opFigures(ctx, measured.toSeq) ++ tracer.toSeq.map(t => Metric(
      "spark.gc_s_per_cycle", Stats.median(measured.toSeq.map(c => t.cost(c, _ != "cycle").gcMs / 1e3)), "s"))
    // every workload prints every per-layer metric: a layer a workload
    // does not exercise reads 0 there
    val perLayer = tracer.toSeq.flatMap { t =>
      val have = commonLayerMetrics(t, ctx, measured.toSeq) ++ w.layerMetrics(ctx, measured.toSeq) +
        ("fs.stored_mb" -> Stats.median(measured.toSeq.map(c => w.storedBytes(c) / 1048576.0)))
      PerLayer.map { case (n, unit) => Metric(n, have.getOrElse(n, 0.0), unit) }
    }

    def metricsJson(ms: Seq[Metric]): String =
      ms.map(m => Json.str(m.name) + ":" + Json.obj(Seq("value" -> m.value, "unit" -> m.unit)))
        .mkString("{", ",", "}")
    writeLines(outDir.resolve("samples.jsonl"), ctx.samples.toSeq.map(s => Json.obj(Seq(
      "workload" -> s.workload, "cycle" -> s.cycle, "op" -> s.op, "wall_ms" -> s.wallMs,
      "cpu_ms" -> s.cpuMs, "jit_cpu_ms" -> s.jitMs, "vm_cpu_ms" -> s.vmMs,
      "jobs" -> s.jobs, "failed" -> s.failed))))
    tracer.foreach(t => writeLines(outDir.resolve("spans.jsonl"), t.spanRecords))
    // tools/check_oracle.py's layout: <dir>/<name>/*.parquet, oracle_sql.json
    if (ctx.oracleSql.nonEmpty)
      writeLines(outDir.resolve("oracle").resolve("oracle_sql.json"), Seq(Json.obj(ctx.oracleSql.toSeq)))
    val summary = Seq(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "smoke" -> a.smoke,
      "run_id" -> runId, "cores" -> a.cores,
      "correct" -> ctx.failures.isEmpty, "failures" -> ctx.failures.toSeq,
      "attempted" -> timed.size, "failed" -> timed.count(_.failed),
      "cycles" -> measured.size, "setup_runs_s" -> setupRuns, "session_s" -> sessionS,
      "cycle_s" -> measured.map(c => ok.filter(_.cycle == c).map(_.wallMs).sum / 1e3).toSeq,
      "canary" -> Seq(canaryStart._1, canaryEnd._1),
      "canary_sched" -> Seq(canaryStart._2, canaryEnd._2))
    val text = Json.obj(summary).dropRight(1) +
      ",\"end_to_end\":" + metricsJson(endToEnd) +
      ",\"ops\":" + metricsJson(opFigures) +
      ",\"per_layer\":" + metricsJson(perLayer) + "}"
    writeLines(outDir.resolve("summary.json"), Seq(text))
    tracer.foreach(_.stop())
    // the fixtures stay for the runner's DuckDB checks; it removes them
    deleteTree(data)
  }

  /** Every per-layer metric, with its unit, in the order printed. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_cycle" -> "count", "spark.tasks_per_cycle" -> "count",
    "spark.cpu_s_per_cycle" -> "s", "spark.shuffle_mb_per_cycle" -> "MB",
    "spark.input_mb_per_cycle" -> "MB", "spark.sched_delay_ms" -> "ms",
    "spark.cpu_per_run" -> "ratio",
    "sql.analysis_ms" -> "ms", "sql.planning_ms" -> "ms", "sql.executions_per_cycle" -> "count",
    "fs.mb_read" -> "MB", "fs.mb_written" -> "MB", "fs.stored_mb" -> "MB") ++
    Tracer.Layers.map(l => s"layer.$l.jobs_per_cycle" -> "count") ++ Seq(
    "runner.actions" -> "count", "runner.jobs_per_action" -> "count",
    "tracker.jobs" -> "count", "tracker.resume_jobs" -> "count", "tracker.state_kb" -> "KB",
    "manifest.jobs_per_publish" -> "count") ++
    Seq("insert", "merge", "update", "delete", "compact").map(op => s"manifest.jobs_per_commit.$op" -> "count") ++ Seq(
    "manifest.files_per_commit" -> "count", "manifest.mb_per_commit" -> "MB",
    "manifest.mor_leaves" -> "count", "manifest.jobs_per_cdc" -> "count",
    "queries.jobs" -> "count", "queries.tasks" -> "count", "queries.shuffle_mb" -> "MB",
    "queries.input_mb" -> "MB")

  /** Per-layer figures of every workload: the Spark scheduler and the
    * local filesystem beneath all layers, Spark's own planning phases for
    * the `sql` layer, and jobs by the layer of their call site. Medians
    * over the measured cycles of the timed operations' work. */
  private def commonLayerMetrics(t: Tracer, ctx: Ctx, cycles: Seq[Int]): Map[String, Double] = {
    val costs = cycles.map(c => t.cost(c, _ != "cycle"))
    def med(f: Cost => Double) = Stats.median(costs.map(f))
    val fs = cycles.map(c => ctx.fsPerCycle.getOrElse(c, FsStats.zero))
    def fmed(f: FsStats => Double) = Stats.median(fs.map(f))
    val phases = cycles.map(c => ctx.phasesPerCycle.getOrElse(c, (0L, 0L, 0L)))
    val execs = phases.map(_._1).sum.toDouble
    Map(
      "spark.jobs_per_cycle" -> med(_.jobs.toDouble),
      "spark.tasks_per_cycle" -> med(_.tasks.toDouble),
      "spark.cpu_s_per_cycle" -> med(_.cpuNs / 1e9),
      "spark.shuffle_mb_per_cycle" -> med(_.shuffleBytes / 1048576.0),
      "spark.input_mb_per_cycle" -> med(_.inputBytes / 1048576.0),
      "spark.sched_delay_ms" -> med(c => if (c.tasks == 0) 0.0 else c.schedDelayMs.toDouble / c.tasks),
      "spark.cpu_per_run" -> med(c => if (c.runMs == 0) 0.0 else c.cpuNs / 1e6 / c.runMs),
      "sql.analysis_ms" -> (if (execs == 0) 0.0 else phases.map(_._2).sum / execs),
      "sql.planning_ms" -> (if (execs == 0) 0.0 else phases.map(_._3).sum / execs),
      "sql.executions_per_cycle" -> Stats.median(phases.map(_._1.toDouble)),
      "fs.mb_read" -> fmed(_.bytesRead / 1048576.0),
      "fs.mb_written" -> fmed(_.bytesWritten / 1048576.0)) ++
      Tracer.Layers.map(l => s"layer.$l.jobs_per_cycle" -> med(_.layerJobs(l).toDouble))
  }

  def writeLines(p: Path, lines: Seq[String]): Unit = {
    val w = new PrintWriter(p.toFile, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}
