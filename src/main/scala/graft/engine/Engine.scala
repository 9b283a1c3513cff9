package graft.engine

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** One configured execution target: a named data location (the reference's
  * `[databases]` entry, db_converter.py:51-53). A parquet directory by
  * default; with `jdbcUrl` set, a LIVE database — reads become
  * spark.read.jdbc views, writes a single-connection transaction sink,
  * and `jdbcInit` the E24 session-preparation SET block (see Jdbc). */
final case class Target(name: String, dataDir: String,
    jdbcUrl: Option[String] = None, jdbcInit: Seq[String] = Nil) {
  def channel: Option[JdbcChannel] =
    jdbcUrl.map(u => JdbcChannel(name, u, jdbcInit))
}

/** Engine run request (reference DBCParams surface). */
final case class RunSpec(
    command: String,                    // run|list|status|wipe|unlock|stop|template
    packetName: String = "",
    targetSelector: String = "ALL",     // GlobMatcher selector over target names
    sequential: Boolean = false,        // --seq (db_converter.py:498-524)
    placeholders: Map[String, String] = Map.empty,
    force: Boolean = false,
    skipStepCancel: Boolean = false,
    skipActionCancel: Boolean = false,
    templateName: String = "default")

/** Serializes state-mutating commands per state directory — the reference
  * gets this for free by routing every mutation through one database; a
  * file-backed tracker needs it explicitly (a wipe landing mid-run would
  * orphan the run's id mappings). In-JVM monitor + OS file lock, so both
  * same-process and cross-process run/wipe/unlock on one target queue up;
  * reads (status) stay lock-free like the reference's. */
object StateLock {
  private val jvmLocks =
    new ConcurrentHashMap[String, Object]()

  def withLock[T](stateDir: String)(f: => T): T = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    val key = new java.io.File(stateDir).getCanonicalPath
    val monitor = jvmLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val chan = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(stateDir, ".dbc_state.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val fl = chan.lock()
      try f finally { fl.release(); chan.close() }
    }
  }
}

/** Multi-target orchestration (reference E3 command dispatch + E5 parallel
  * per-DB execution, db_converter.py:339-346,498-524,556-685).
  *
  * Spark-native shape: each target runs in its OWN child session
  * (`spark.newSession()` — shared SparkContext and executors, isolated
  * temp-view catalog and SQL conf, so parallel targets can both register
  * `lineitem` without colliding) under its own job group, which is the
  * cancellation handle (`--stop` / SIGINT → cancelJobGroup, the analogue
  * of pg_cancel_backend by application_name, E18/E19).
  */
final class Engine(spark: SparkSession, targets: Seq[Target],
    stateRoot: String, packetsRoot: String = "packets",
    hookSink: Option[HookSink] = None,
    /** E25 reconnect pacing (reference [main] conn_exception_sleep_interval,
      * db_converter.py:61-62) */
    connExceptionSleepMs: Long = 5000,
    connRetryLimit: Int = 720) {

  private val terminated = ConcurrentHashMap.newKeySet[String]()

  private def jobGroup(target: String, packet: String) = s"dbc_${packet}_$target"

  def stateDir(target: String): String = s"$stateRoot/$target"

  private def stopFlag(target: String, packet: String) =
    java.nio.file.Paths.get(stateDir(target), s"dbc_stop_$packet.flag")

  /** Cancel a target's running packet jobs (E18 terminate/stop). The
    * in-JVM path cancels the job group; the stop FLAG file makes the
    * command work across processes (the reference's pg_cancel_backend by
    * application_name is inherently cross-process, db_converter.py:390-411)
    * — a runner in another JVM polls it between actions. */
  def stop(targetName: String, packetName: String): Unit = {
    terminated.add(targetName)
    try {
      java.nio.file.Files.createDirectories(stopFlag(targetName, packetName).getParent)
      java.nio.file.Files.write(stopFlag(targetName, packetName), Array.empty[Byte])
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.sparkContext.cancelJobGroup(jobGroup(targetName, packetName))
    // JDBC half: cancel in-flight database statements (on PostgreSQL the
    // driver's cancel IS the pg_cancel_backend wire request)
    Jdbc.cancelAll(targetName)
  }

  /** Cancel everything — wired to SIGINT/shutdown by the CLI (E19). */
  def stopAll(packetName: String): Unit =
    targets.foreach(t => stop(t.name, packetName))

  def run(spec: RunSpec): RunResult = {
    val selected = GlobMatcher.resolve(spec.targetSelector, targets.map(_.name))
    val byName = targets.map(t => t.name -> t).toMap
    spec.command match {
      case "run" => runPacketOnTargets(spec, selected.map(byName))
      case "status" => mergeSimple(selected) { t =>
        val st = tracker(t).packetStatus(spec.packetName)
        (st.map(_ => "success").getOrElse("nothing_todo"),
          st.map(_.status).getOrElse("new"))
      }
      case "wipe" => mergeSimple(selected) { t =>
        val had = StateLock.withLock(stateDir(t)) {
          tracker(t).wipePacket(spec.packetName)
        }
        (if (had) "success" else "nothing_todo", "new")
      }
      case "unlock" => mergeSimple(selected) { t =>
        StateLock.withLock(stateDir(t)) {
          tracker(t).setPacketUnlock(spec.packetName)
        }
        ("success", "new")
      }
      case "stop" =>
        selected.foreach(t => stop(t, spec.packetName))
        RunResult(selected.map(_ -> "terminate").toMap,
          selected.map(_ -> "started").toMap, Map.empty, Nil)
      case "list" =>
        val names = Option(new java.io.File(packetsRoot).listFiles())
          .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).sorted
        RunResult(Map("local" -> "success"), Map("local" -> "new"), Map.empty,
          names.map(n => Notice("INFO", n)).toSeq)
      case "template" =>
        val created = Template.scaffold(packetsRoot, spec.templateName, spec.packetName)
        RunResult(Map("local" -> "success"), Map("local" -> "new"), Map.empty,
          Seq(Notice("INFO", s"created $created")))
      case other =>
        RunResult(Map("local" -> "fail"), Map("local" -> "new"), Map.empty,
          Seq(Notice("ERROR", s"unknown command: $other")))
    }
  }

  private def tracker(target: String) =
    new ActionTracker(spark, stateDir(target))

  private def mergeSimple(selected: Seq[String])(
      f: String => (String, String)): RunResult = {
    val results = selected.map { t => val (code, st) = f(t); (t, code, st) }
    RunResult(results.map(r => r._1 -> r._2).toMap,
      results.map(r => r._1 -> r._3).toMap, Map.empty, Nil)
  }

  /** Per-target worker (reference worker_db_func + wait_threads,
    * dbccore.py:379-627): child session, fixture registration, job group,
    * PacketRunner. */
  private def runPacketOnTargets(spec: RunSpec, selected: Seq[Target]): RunResult = {
    terminated.clear()
    def runOne(t: Target): RunResult = {
      val session = spark.newSession()
      session.sparkContext.setJobGroup(jobGroup(t.name, spec.packetName),
        s"packet ${spec.packetName} on ${t.name}", interruptOnCancel = true)
      try {
        t.channel match {
          case Some(ch) =>
            // live target: every readable relation (incl. the database's
            // own catalog schema) becomes a spark.read.jdbc view — no
            // fixture scan needed
            Jdbc.registerTables(session, ch)
          case None =>
            val (tables, pg) = Engine.fixtureTables(
              s"$packetsRoot/${spec.packetName}", spec.placeholders)
            tables.fold(Tables.registerAll(session, t.dataDir))(
              Tables.registerSome(session, t.dataDir, _))
            if (pg) graft.sources.PgCatalog.registerAll(session)
        }
        // packet SQL may call the PG scalar surface (pg_size_pretty,
        // quote_ident, pg_sleep) — session-scoped, so register per run
        graft.functions.PgFunctions.registerAll(session)
        // E27: one async batched run log per (target, packet), reference
        // naming log/dbc_<db>_<packet>.log
        val logger = AsyncLogger.forRun(s"${stateDir(t.name)}/log",
          t.name, spec.packetName)
        try {
          // a stale stop flag from a previous stop command must not kill
          // this fresh run
          java.nio.file.Files.deleteIfExists(stopFlag(t.name, spec.packetName))
          val conf = RunnerConf(
            stateDir = stateDir(t.name), target = t.name,
            jdbc = t.channel,
            placeholders = spec.placeholders, force = spec.force,
            skipStepCancel = spec.skipStepCancel,
            skipActionCancel = spec.skipActionCancel,
            connExceptionSleepMs = connExceptionSleepMs,
            connRetryLimit = connRetryLimit,
            exportDir = Some(s"${stateDir(t.name)}/export"),
            hookSink = hookSink,
            terminated = () => terminated.contains(t.name) ||
              java.nio.file.Files.exists(stopFlag(t.name, spec.packetName)),
            logger = Some(logger))
          StateLock.withLock(stateDir(t.name)) {
            new PacketRunner(session, conf).run(s"$packetsRoot/${spec.packetName}")
          }
        } finally logger.close()
      } finally session.sparkContext.clearJobGroup()
    }

    val results: Seq[RunResult] =
      if (spec.sequential) selected.map(runOne)
      else {
        // one thread per target (the reference spawns a worker thread per
        // DB); Spark jobs from all targets interleave on the shared pool
        val pool = Executors.newFixedThreadPool(math.max(1, selected.size))
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val futs = selected.map(t => Future(runOne(t)))
          Await.result(Future.sequence(futs.map(_.transform(Success(_)))),
            Duration.Inf).map {
            case Success(r) => r
            case Failure(e) => RunResult(Map.empty, Map.empty, Map.empty,
              Seq(Notice("ERROR", String.valueOf(e.getMessage))))
          }
        } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
      }
    results.foldLeft(RunResult(Map.empty, Map.empty, Map.empty, Nil)) { (acc, r) =>
      RunResult(acc.resultCode ++ r.resultCode,
        acc.packetStatus ++ r.packetStatus,
        acc.stepResults ++ r.stepResults,
        acc.notices ++ r.notices,
        acc.resultData ++ r.resultData)
    }
  }
}

object Engine {

  /** The fixture tables a packet's text names (None: every table) and
    * whether it reads the synthesized pg_ catalog. Each fixture
    * registration costs a parquet-footer read and each catalog view an
    * analysis pass — a 2-table packet should not pay for all 25. The
    * reference scan runs on PLACEHOLDER-SUBSTITUTED, lower-cased text
    * (SQL identifiers are case-insensitive and a table name may arrive
    * via DBC_PL_*) and matches whole words ("PARTITIONED" names no
    * `part`). Python-step callbacks can touch any table, an unresolved
    * DBC_PL_* may hide a table name, and a generator field in table
    * position (FROM GEN_OBJ_FLD_1) names tables at fan-out time — all
    * three fall back to every table. */
  private[graft] def fixtureTables(packetDir: String,
      placeholders: Map[String, String]): (Option[Seq[String]], Boolean) = {
    val files = Option(new java.io.File(packetDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".sql") || f.getName.endsWith(".py"))
    val rawText = files
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
      .mkString("\n")
    val sqlText = Placeholders.applyUser(rawText, placeholders).toLowerCase
    val conservative = rawText.isEmpty ||
      sqlText.contains("dbc_pl_") ||
      "(?i)(from|join|table)\\s+gen_(obj|nsp)_fld".r
        .findFirstIn(sqlText).isDefined ||
      files.exists(_.getName.endsWith(".py"))
    (if (conservative) None
     else Some(Tables.all.filter(t =>
       s"\\b$t\\b".r.findFirstIn(sqlText).isDefined)),
      conservative || sqlText.contains("pg_"))
  }
}

/** `--template` scaffold (reference E28, db_converter.py:266-285). */
object Template {
  def scaffold(packetsRoot: String, templateName: String,
      newPacketName: String): String = {
    require(newPacketName.nonEmpty, "packet name required for template")
    val src = java.nio.file.Paths.get(packetsRoot, "templates", templateName)
    val dst = java.nio.file.Paths.get(packetsRoot, newPacketName)
    require(java.nio.file.Files.isDirectory(src), s"template not found: $src")
    require(!java.nio.file.Files.exists(dst), s"packet already exists: $dst")
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach { f =>
      java.nio.file.Files.copy(f, dst.resolve(f.getFileName))
    }
    dst.toString
  }
}

/** Minimal INI config reader (reference conf/db_converter.conf,
  * psc_common.py:20-40 — sections, `k = v`, inline `#` comments). */
object IniConf {
  def parse(text: String): Map[String, Map[String, String]] = {
    var section = ""
    val out = scala.collection.mutable.Map.empty[String, Map[String, String]]
    text.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.startsWith("[") && line.endsWith("]"))
        section = line.substring(1, line.length - 1)
      else if (line.contains("=") && section.nonEmpty) {
        val Array(k, v) = line.split("=", 2)
        out(section) = out.getOrElse(section, Map.empty) +
          (k.trim -> v.trim.stripPrefix("\"").stripSuffix("\""))
      }
    }
    out.toMap
  }
}
