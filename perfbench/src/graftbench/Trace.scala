package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work rolled up to one span. */
final class Cost {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var schedDelayMs = 0L
  /** jobs by the program layer named in the job's call site */
  val jobsByLayer: mutable.Map[String, Long] = mutable.Map.empty[String, Long]

  def layerJobs(layer: String): Long = jobsByLayer.getOrElse(layer, 0L)

  def +=(o: Cost): Cost = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    schedDelayMs += o.schedDelayMs
    o.jobsByLayer.foreach { case (k, v) => jobsByLayer(k) = layerJobs(k) + v }
    this
  }
}

final case class Span(id: Long, name: String, parent: Long, cycle: Int,
    startNs: Long, var endNs: Long = 0L)

/** Query-planning phase totals from every session's QueryExecutionListener
  * (registered through `spark.sql.queryExecutionListeners`, so the child
  * sessions the packet engine opens report here too). */
object PlanningPhases {
  private var executions = 0L
  private var analysisMs = 0L
  private var planningMs = 0L

  def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    executions += 1
    analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
    planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
  }

  /** (query executions, analysis ms, planning ms) so far */
  def totals: (Long, Long, Long) = synchronized((executions, analysisMs, planningMs))
}

final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanningPhases.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanningPhases.record(qe)
}

/** Hadoop FileSystem byte counts of the local (`file`) scheme. Its read
  * and write operation counters stay 0: the local filesystem never
  * increments them. */
final case class FsStats(bytesRead: Long, bytesWritten: Long) {
  def -(o: FsStats): FsStats = FsStats(bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: FsStats): FsStats = FsStats(bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
}

object FsStats {
  val zero: FsStats = FsStats(0, 0)
  def now(): FsStats =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")) match {
      case None => zero
      case Some(st) =>
        def l(k: String): Long = Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
        FsStats(l("bytesRead"), l("bytesWritten"))
    }
}

/** Spans recorded around each call the benchmark makes into a layer, and
  * the Spark work under each. A job belongs to the span that was active
  * on the submitting thread (a Spark local property, which the program's
  * own worker threads inherit when created); its layer is the program
  * file named by the innermost program frame of its call site. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private var nextId = 1L
  // listener-thread state, guarded by `lock`
  private val lock = new Object
  private val costs = mutable.Map.empty[Long, Cost]
  private val stageSpan = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(stageSpan(_) = span)
      val c = costs.getOrElseUpdate(span, new Cost)
      c.jobs += 1
      val layer = layerOf(e.stageInfos.headOption.map(_.details).getOrElse(""))
      c.jobsByLayer(layer) = c.layerJobs(layer) + 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = costs.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0L), new Cost)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        val info = e.taskInfo
        val duration = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
        c.schedDelayMs += math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }
  sc.addSparkListener(listener)

  def span[A](name: String, cycle: Int)(body: => A): A = {
    val s = Span(nextId, name, current.map(_.id).getOrElse(0L), cycle, System.nanoTime())
    nextId += 1
    spans += s
    val outer = current
    val outerProp = sc.getLocalProperty(SpanKey)
    current = Some(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      current = outer
      sc.setLocalProperty(SpanKey, outerProp)
    }
  }

  /** Summed cost of the spans of `cycle` whose name satisfies `pick`. */
  def cost(cycle: Int, pick: String => Boolean = _ => true): Cost = {
    val ids = spans.filter(s => s.cycle == cycle && pick(s.name)).map(_.id).toSet
    lock.synchronized {
      ids.foldLeft(new Cost)((acc, id) => costs.get(id).fold(acc)(acc += _))
    }
  }

  def spanRecords: Seq[String] = lock.synchronized {
    spans.toSeq.map { s =>
      val c = costs.getOrElse(s.id, new Cost)
      Json.obj(Seq("run_id" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "cycle" -> s.cycle,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_ms" -> c.cpuNs / 1e6,
        "jobs_by_layer" -> c.jobsByLayer.toMap))
    }
  }

  def stop(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "graftbench.span"

  private val Frame = """\s*(?:at\s+)?(graft\.[\w.$]+)\((\w+)\.scala:\d+\).*""".r

  /** The layer of the innermost program frame of a call site, named
    * after the module it lives in. */
  def layerOf(callSite: String): String =
    callSite.linesIterator.collectFirst { case Frame(cls, file) => (cls, file) } match {
      case None => "spark" // submitted from Spark's own threads: broadcasts, subqueries
      case Some((cls, file)) =>
        if (cls.startsWith("graft.sql.")) "sql"
        else if (cls.startsWith("graft.engine.")) file match {
          case "PacketLoader" | "Placeholders" | "SqlSplitter" => "loader"
          case "ActionTracker" => "tracker"
          case "SpecManifest" | "PartitionedManifest" | "ManifestTable" | "PointerStore" => "manifest"
          case _ => "runner"
        }
        else if (Seq("graft.queries.", "graft.operators.", "graft.functions.",
            "graft.plans.", "graft.sources.").exists(cls.startsWith)) "queries"
        else "other"
    }

  val Layers: Seq[String] = Seq("loader", "runner", "tracker", "manifest", "sql", "queries", "other", "spark")
}
