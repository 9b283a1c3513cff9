package graft.engine

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runner configuration (reference: DBCParams CLI surface,
  * db_converter.py:117-207 + SysConf db_converter.py:33-103). */
final case class RunnerConf(
    stateDir: String,
    target: String = "spark",
    placeholders: Map[String, String] = Map.empty,
    force: Boolean = false,
    skipStepCancel: Boolean = false,   // --skip-step-cancel (E25)
    skipActionCancel: Boolean = false, // --skip-action-cancel (E25)
    /** E25 reconnect: sleep before retrying a transient failure (the
      * reference's conn_exception_sleep_interval, db_converter.py:61-62,
      * default 5 s; its test conf uses 1 s). */
    connExceptionSleepMs: Long = 5000,
    /** the reference retries forever (`while do_work`); a bounded loud
      * backstop is safer for an embedded library — ~1 h at default sleep */
    connRetryLimit: Int = 720,
    maxFanout: Int = 1000000,
    resultRowCap: Int = 100000,
    /** live JDBC target: write steps run through its transaction sink,
      * reads through the spark.read.jdbc views the Engine registered */
    jdbc: Option[JdbcChannel] = None,
    exportDir: Option[String] = None,
    hookSink: Option[HookSink] = None,
    /** run the packet's step files VERBATIM in the reference's own
      * PostgreSQL dialect: every statement goes through
      * [[PgDialectRewriter]] and the synthesized-catalog functions are
      * registered — a user's unmodified reference-format packets run
      * as-is (c20/c21 are the query-level twins of this path) */
    pgDialect: Boolean = false,
    /** PG-schema → catalog-namespace mapping for verbatim packets whose
      * DDL/DML targets NAMED tables (e.g. `public` → `g.db`): table
      * references rewrite through it, and the PG-DDL surface
      * ([[PgDdl]]: serial sequences, triggers, constraints, unique
      * indexes, rename swaps, UPDATE…FROM) executes against the mapped
      * graft SQL tables. Empty = off. */
    pgSchemaMap: Map[String, String] = Map.empty,
    /** PARTITIONED BY clause for tables a verbatim packet CREATEs
      * (PG DDL has no partition clause; graft tables require one),
      * keyed by simple table name. */
    pgCreatePartition: Map[String, String] = Map.empty,
    /** polled on failure: true → the run was cancelled (E18/E19), result
      * code `terminate` instead of `fail` (reference is_terminate checks,
      * dbccore.py:1146-1150) */
    terminated: () => Boolean = () => false,
    now: () => Long = () => System.currentTimeMillis(),
    /** E27 async run log (reference PSCLogger `log/dbc_<db>_<packet>.log`);
      * owned by the caller — the engine opens one per target run. */
    logger: Option[AsyncLogger] = None)

/** Context handed to registered Scala step callbacks (the reference's
  * `exec()` python-step escape hatch, dbccore.py:1113-1115, E26 — typed
  * callback instead of arbitrary code). */
final case class StepContext(
    spark: SparkSession,
    target: String,
    packetName: String,
    stepName: String,
    notices: mutable.Buffer[Notice],
    results: mutable.Buffer[ResultSet],
    /** the run's DBC_PL_* placeholder map — python steps see the packet
      * variables exactly like SQL steps do (rendered vs. passed) */
    placeholders: Map[String, String] = Map.empty) {
  def notice(severity: String, message: String): Unit =
    notices += Notice(severity, message)
}

/** Registry of Scala callbacks standing in for `NN_step.py` python steps.
  * Keyed "packetName/stepFileName". */
object ScalaSteps {
  private val registry = mutable.Map.empty[String, StepContext => Unit]
  def register(packetName: String, stepFile: String)(fn: StepContext => Unit): Unit =
    registry.synchronized { registry(s"$packetName/$stepFile") = fn }
  def lookup(packetName: String, stepFile: String): Option[StepContext => Unit] =
    registry.synchronized { registry.get(s"$packetName/$stepFile") }
}

/** Executes a parsed packet end-to-end against a SparkSession whose
  * catalog holds the target's tables (the reference's worker loop,
  * dbccore.py:379-627):
  *
  *   run_once pass → generator evaluation → full steps pass with the
  *   4-case GEN_NSP×GEN_OBJ fan-out (dbccore.py:905-1181), per-action MD5
  *   dedup against the ActionTracker, `maint` pre-commands, per-step
  *   status bookkeeping, notices, resultset capture.
  *
  * Scale posture: the fan-out itself is driver-side rows × template
  * rendering (exactly the reference's model — generator resultsets are
  * operational grids, e.g. 10k-id batch ranges, not data); each rendered
  * action is a full Spark job whose plan Catalyst owns. Fan-outs beyond
  * `maxFanout` switch to `executeFanoutAsOneJob`: the grid becomes a
  * DataFrame joined laterally against the rewritten statement — ONE
  * distributed job instead of N driver-loop actions, same per-combo
  * action hashes, so the two execution shapes share one resume history.
  */
final class PacketRunner(spark: SparkSession, conf: RunnerConf) {

  import PacketRunner._

  private val tracker = new ActionTracker(spark, conf.stateDir, conf.now)
  // packet SQL may call the PG scalar surface; registry is session-scoped
  graft.functions.PgFunctions.registerAll(spark)
  private val notices = mutable.Buffer.empty[Notice]
  // reference errors_count (dbccore.py:1156,1166): skip-step / skip-action
  // failures don't stop the run but MUST fail it at the end (:585-597)
  private var errorsCount = 0
  private val resultData = mutable.Map.empty[String, Seq[ResultSet]]
  private val stepOutcomes = mutable.Map.empty[String, StepOutcome]

  def run(packetDir: String): RunResult = {
    val packet = PacketLoader.load(packetDir, conf.placeholders)
    runPacket(packet)
  }

  private def log(msg: String, level: String = "Info"): Unit =
    conf.logger.foreach(_.log(msg, level))

  // swallowed webhook failures land in this run's log stream, not stderr
  private implicit val hookLog: HookSink.Log = HookSink.Log(log(_, _))

  def runPacket(packet: Packet): RunResult =
    // every rewrite in this run (steps, generators, DO bodies) maps
    // PG-schema-qualified names through conf.pgSchemaMap
    PgDialectRewriter.withTableMap(conf.pgSchemaMap)(runPacket0(packet))

  private def runPacket0(packet: Packet): RunResult = {
    log(s"packet ${packet.name} started on ${conf.target}")
    errorsCount = 0
    tracker.initTables()
    val readOnly = packet.meta.packetType == PacketType.ReadOnly
    val tracking = packet.meta.packetType == PacketType.Default

    // E16 hash-drift guard (dbccore.py:449-463)
    if (!conf.force && !readOnly) {
      tracker.packetStatus(packet.name).foreach { st =>
        if (st.hash.nonEmpty && st.hash != packet.packetHash)
          return result(packet, ResultFail, statusOf(packet),
            err = Some(s"packet hash changed; use force"))
      }
    }
    // E12 cooperative lock (db_converter.py:615-635)
    if (tracker.isPacketLocked(packet.name))
      return result(packet, ResultLocked, statusOf(packet))

    // session prep must not outlive the run when the caller shares its
    // session (the reference's SETs die with the connection): capture the
    // prior values for the finally's restore
    var priorConf: Seq[(String, Option[String])] = Nil
    try {
      // Lock and session prep live inside the try: a throwing conf key (e.g.
      // a static SQL conf in meta_data.json) must still reach the finally's
      // unlock, or the packet stays locked with no exception status recorded.
      tracker.setPacketLock(packet.name)

      // E24 session preparation: per-packet conf overrides (the reference's
      // prepare_session SET work_mem/... block, dbccore.py:347-377) + a job
      // description carrying the application_name analogue
      priorConf = packet.meta.sessionConf.keys.toSeq
        .map(k => k -> spark.conf.getOption(k))
      packet.meta.sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sparkContext.setJobDescription(
        s"dbc_${packet.name}_${conf.target}")

      val stepsHashes = mutable.Set.empty[String]

      // E25 reconnect (the other half of skip-step/skip-action): the
      // reference's worker loop retries the WHOLE steps pass after a
      // transient failure — query cancel, admin/crash shutdown,
      // server-not-ready, dropped connection, deadlock (dbccore.py:409-576
      // `while do_work`, classification dbccore.py:1125-1168) — sleeping
      // conn_exception_sleep_interval, reconnecting, and re-running
      // prepare_session before resuming. Here every JDBC statement batch
      // already executes on a FRESH connection with initStatements applied
      // (Jdbc.openConnection IS the prepare_session analogue), so the retry
      // itself is the reconnect; `stepsHashes` + the tracker's executed-hash
      // WAL make the resume idempotent — completed actions skip, only the
      // failed action re-runs. Generators re-evaluate each attempt (the
      // reference re-collects them inside the loop: a resumed batch range
      // must reflect the database as it is NOW, dbccore.py:538-541).
      // Retryability is a TYPED outcome kind, never a descr-string match: a
      // non-retryable failure whose message happens to read "connection"
      // must not enter this loop (only Jdbc.retryClass classifies).
      var outcome: Outcome = Outcome(Kind.Done)
      var retries = 0
      var retry = true
      while (retry) {
        retry = false
        try {
          // pass 1: run_once.sql only, BEFORE generators are evaluated
          // (dbccore.py:465-469,536)
          outcome = stepsPass(packet, runOnceOnly = true, Map.empty, Map.empty,
            stepsHashes, tracking, readOnly)

          // generator evaluation (dbccore.py:538-541): resultsets collected
          // driver-side; col 0 is the reserved `maint` command. Each
          // distinct deterministic query is collected once per attempt —
          // the memo is new on every attempt, so a retry re-evaluates
          if (outcome.kind == Kind.Done) {
            val memo = mutable.Map.empty[String, Seq[GenRow]]
            val genObjData = packet.genObj.map { case (idx, g) =>
              idx -> collectGen(g.sql, memo) }
            val genNspData = packet.genNsp.map { case (idx, g) =>
              idx -> collectGen(g.sql, memo) }

            // pass 2: every step (run_once.sql dedups via its own hash)
            outcome = stepsPass(packet, runOnceOnly = false, genNspData,
              genObjData, stepsHashes, tracking, readOnly)
          }
        } catch {
          // a generator read against a dead database lands here rather than
          // in a step outcome — the reference's worker-loop catch also
          // flips do_work for its retryable classes (dbccore.py:545-567)
          case e: Throwable if Jdbc.retryClass(e).isDefined && !conf.terminated() =>
            outcome = Outcome(Kind.Retryable, Jdbc.retryClass(e))
        }
        if (outcome.kind == Kind.Retryable && !conf.terminated()) {
          if (retries < conf.connRetryLimit) {
            retries += 1
            log(s"packet ${packet.name}: ${outcome.descr.getOrElse("")}; " +
              s"reconnecting after ${conf.connExceptionSleepMs} ms " +
              s"(retry $retries/${conf.connRetryLimit})", "Error")
            Thread.sleep(conf.connExceptionSleepMs)
            retry = true
          } else {
            val descr = s"${outcome.descr.getOrElse("transient")}: " +
              s"retry limit ${conf.connRetryLimit} exceeded"
            // exhaustion must leave a STEP exception status too — while
            // retrying, the step stays status-less by design (the reference
            // returns do_work before set_step_exception_status), but a
            // given-up failure is terminal and the step must say so
            if (!readOnly) outcome.failedStep.foreach { st =>
              tracker.setStepStatus(packet.name, st, "exception", Some(descr))
              stepOutcomes(st) = StepOutcome.Failed(descr)
            }
            outcome = Outcome(Kind.Error, Some(descr), outcome.failedStep)
          }
        } else if (outcome.kind == Kind.Retryable) {
          // terminated while a retryable failure was in flight: terminal
          outcome = Outcome(Kind.Error, outcome.descr, outcome.failedStep)
        }
      }

      val errDescr = if (outcome.kind == Kind.Done) None else outcome.descr
      // terminate leaves the packet `started` (reference TERMINATE/STARTED
      // expectation, test_packets.py:201-241); skipped steps/actions leave
      // it `exception` + FAIL even though the run completed (errors_count
      // rule, dbccore.py:585-597; test_packets.py:292-373)
      val packetStatus = outcome.kind match {
        case Kind.Terminate => "started"
        case Kind.Done if errorsCount == 0 => "done"
        case _ => "exception"
      }
      if (!readOnly && packet.meta.packetType != PacketType.Maintenance &&
          outcome.kind != Kind.Terminate) {
        tracker.ensurePacket(packet.name, packet.packetHash, metaJson(packet))
        tracker.setPacketStatus(packet.name, packetStatus)
      }
      val code = outcome.kind match {
        case Kind.Terminate => ResultTerminate
        case Kind.Done if errorsCount == 0 => ResultSuccess
        case _ => ResultFail
      }
      log(s"packet ${packet.name} finished: $code/$packetStatus" +
        errDescr.fold("")(e => s" ($e)"),
        if (errDescr.isDefined) "Error" else "Info")
      result(packet, code, packetStatus, errDescr)
    } catch {
      case e: Throwable if conf.terminated() =>
        result(packet, ResultTerminate, "started", Some(String.valueOf(e.getMessage)))
      case e: Throwable =>
        if (!readOnly) {
          tracker.ensurePacket(packet.name, packet.packetHash, metaJson(packet))
          tracker.setPacketStatus(packet.name, "exception")
        }
        // e.toString, not getMessage: a null-message NPE must still leave
        // a diagnosable ERROR notice (class name + location-less summary)
        result(packet, ResultFail, "exception", Some(trim(String.valueOf(e))))
    } finally {
      // every restore arm is guarded: a static conf that refused the SET
      // also refuses the restore, and a throw here would skip the unlock
      // below — leaving the packet locked forever
      priorConf.foreach {
        case (k, Some(v)) =>
          try spark.conf.set(k, v) catch { case scala.util.control.NonFatal(_) => () }
        case (k, None) =>
          try spark.conf.unset(k) catch { case scala.util.control.NonFatal(_) => () }
      }
      tracker.flushActions()
      tracker.persistMeta()
      tracker.setPacketUnlock(packet.name) // unlock at end of run (db_converter.py:742-746)
    }
  }

  // -- steps_processing (dbccore.py:465-543) -----------------------------
  private def stepsPass(packet: Packet, runOnceOnly: Boolean,
      genNsp: Map[String, Seq[GenRow]], genObj: Map[String, Seq[GenRow]],
      stepsHashes: mutable.Set[String], tracking: Boolean,
      readOnly: Boolean): Outcome = {
    packet.steps.foreach { step =>
      if (!runOnceOnly || step.runOnce) {
        val o = executeStep(packet, step, genNsp, genObj,
          stepsHashes, tracking, readOnly)
        o.kind match {
          case Kind.Skipped =>
            stepOutcomes(step.name) = StepOutcome.Skipped("skip_step")
            if (!readOnly)
              tracker.setStepStatus(packet.name, step.name, "exception",
                Some("skip_step"))
          // continue with next step (reference logs and moves on)
          case Kind.Done =>
            stepOutcomes(step.name) = stepOutcomes.getOrElse(step.name,
              StepOutcome.Done(0))
            if (!readOnly && tracking)
              tracker.setStepStatus(packet.name, step.name, "done")
          case Kind.Retryable =>
            // surfaces to runPacket's reconnect loop WITHOUT an exception
            // status write — the reference returns do_work=True before its
            // set_step_exception_status (dbccore.py:496-526)
            return o
          case Kind.Error =>
            stepOutcomes(step.name) = StepOutcome.Failed(o.descr.getOrElse("error"))
            if (!readOnly)
              tracker.setStepStatus(packet.name, step.name, "exception", o.descr)
            return o
          case Kind.Terminate => return Outcome(Kind.Terminate)
        }
      }
    }
    Outcome(Kind.Done)
  }

  // -- execute_step: unified 4-case generator fan-out
  //    (dbccore.py:905-1181; cases at :921,:991,:1046,:1088) -------------
  private def executeStep(packet: Packet, step: Step,
      genNsp: Map[String, Seq[GenRow]], genObj: Map[String, Seq[GenRow]],
      stepsHashes: mutable.Set[String], tracking: Boolean,
      readOnly: Boolean): Outcome = {
    val ctx = StepContext(spark, conf.target, packet.name, step.name,
      notices, mutable.Buffer.empty, conf.placeholders)
    val hasNsp = step.sql.contains("GEN_NSP_FLD_")
    val hasObj = step.sql.contains("GEN_OBJ_FLD_")
    val idx = step.index.getOrElse("")

    def genOf(m: Map[String, Seq[GenRow]], kind: String): Either[String, Seq[GenRow]] =
      m.get(idx).toRight(
        s"${step.name}: not found generator for this step, but ${kind}_FLD_ is exists")

    // fan-out combos, nsp-major × obj-minor (dbccore.py:935-939)
    val combos: Either[String, Seq[(Option[GenRow], Option[GenRow])]] =
      (hasNsp, hasObj) match {
        case (true, true) => for {
          ns <- genOf(genNsp, "GEN_NSP"); os <- genOf(genObj, "GEN_OBJ")
        } yield for { n <- ns; o <- os } yield (Some(n), Some(o))
        case (false, true) =>
          genOf(genObj, "GEN_OBJ").map(_.map(o => (None, Some(o))))
        case (true, false) =>
          genOf(genNsp, "GEN_NSP").map(_.map(n => (Some(n), None)))
        case (false, false) => Right(Seq((None, None)))
      }

    combos match {
      case Left(err) =>
        notices += Notice("ERROR", err)
        Outcome(Kind.Error, Some(err), Some(step.name))
      case Right(cs) if cs.size > conf.maxFanout =>
        executeFanoutAsOneJob(packet, step, ctx, cs, stepsHashes, tracking,
          readOnly)
      case Right(cs) =>
        // executed-hash set loaded ONCE per step (reference does a per-action
        // indexed EXISTS; the bulk load + left_anti equivalent is
        // ActionTracker.notYetExecuted for DataFrame-sized fan-outs)
        val executed: Set[String] =
          if (tracking) tracker.executedHashes(packet.name, step.name)
          else Set.empty
        var ran = 0L
        cs.foreach { case (nspRow, objRow) =>
          val rendered0 = nspRow.map(n =>
            Placeholders.applyNspRow(step.sql, n.fields)).getOrElse(step.sql)
          val rendered = objRow.map(o =>
            Placeholders.applyObjRow(rendered0, o.fields)).getOrElse(rendered0)
          val stepHash = PacketLoader.md5Hex(rendered)
          if (!stepsHashes.contains(stepHash)) {
            if (executed.contains(stepHash)) {
              stepsHashes += stepHash // already executed in a previous run
            } else {
              // cooperative stop between actions (reference is_terminate
              // poll, dbccore.py:1146-1150); also how the cross-process
              // stop FLAG reaches a run whose jobs are all healthy
              if (conf.terminated()) {
                tracker.flushActions()
                return Outcome(Kind.Terminate)
              }
              try {
                // maint pre-commands (nsp first, then obj with nsp fields
                // substituted — dbccore.py:954-966)
                nspRow.flatMap(_.maint).filter(_.nonEmpty)
                  .foreach(m => executeQ(ctx, packet, m))
                objRow.flatMap(_.maint).filter(_.nonEmpty).foreach { m =>
                  val mq = nspRow.map(n => Placeholders.applyNspRow(m, n.fields))
                    .getOrElse(m)
                  executeQ(ctx, packet, mq)
                }
                if (tracking)
                  tracker.beginAction(packet.name, packet.packetHash, step.name,
                    metaJson(packet))
                if (step.isPython) {
                  ScalaSteps.lookup(packet.name, step.name) match {
                    case Some(fn) => fn(ctx)
                    case None => throw new IllegalStateException(
                      s"no Scala callback registered for python step " +
                        s"${packet.name}/${step.name}")
                  }
                  if (ctx.results.nonEmpty)
                    resultData(step.name) = ctx.results.toSeq
                } else executeQ(ctx, packet, rendered)
                if (tracking)
                  tracker.applyAction(packet.name, step.name, stepHash)
                stepsHashes += stepHash
                ran += 1
              } catch {
                case e: Throwable =>
                  if (sys.env.contains("GRAFT_DEBUG")) e.printStackTrace()
                  tracker.flushActions()
                  // E22 raise_error_logic (dbccore.py:1183-1219): failures
                  // surface on the hook channel, filtered by verbosity
                  conf.hookSink.foreach(_.raiseHook(packet.meta, step.name,
                    Notice("EXCEPTION", String.valueOf(e.getMessage))))
                  if (conf.terminated()) return Outcome(Kind.Terminate)
                  if (conf.skipStepCancel) {
                    errorsCount += 1
                    return Outcome(Kind.Skipped, Some("skip_step"), Some(step.name))
                  } else if (conf.skipActionCancel) {
                    // in-run memory only (reference dbccore.py:1158-1166):
                    // the action is NOT applied to the tracker, so a re-run
                    // retries it; the rest of the fan-out continues
                    stepsHashes += stepHash
                    errorsCount += 1
                    notices += Notice("ERROR",
                      s"${step.name}: action $stepHash skipped: ${e.getMessage}")
                  } else Jdbc.retryClass(e) match {
                    // E25 reconnect classification (dbccore.py:1168-1171):
                    // skip flags take precedence (reference order), then a
                    // transient failure surfaces as a TYPED Retryable
                    // outcome for runPacket's retry loop
                    case Some(kind) =>
                      return Outcome(Kind.Retryable, Some(kind), Some(step.name))
                    case None =>
                      return Outcome(Kind.Error, Some(trim(e.getMessage)),
                        Some(step.name))
                  }
              }
            }
          }
        }
        tracker.flushActions()
        stepOutcomes(step.name) = StepOutcome.Done(ran)
        log(s"step ${step.name}: done ($ran actions)")
        Outcome(Kind.Done)
    }
  }

  // -- distributed fan-out (combos > maxFanout): ONE joined job ----------
  //    The driver loop pays a full Spark job per combo — right for the
  //    reference's operational grids (tens to thousands of batches), wrong
  //    past maxFanout. There the grid becomes a DataFrame joined LATERALLY
  //    against the step's (rewritten) statement, so Catalyst decorrelates
  //    the per-combo predicate into one join and the whole fan-out is a
  //    single distributed job. Action hashes are the SAME per-combo
  //    rendered-SQL md5 the loop path uses, so histories interoperate:
  //    a half-finished loop run resumes distributed (and vice versa), and
  //    a re-run skips everything. Projection-position FLD references (not
  //    expressible as lateral correlation, which is WHERE/HAVING-only)
  //    fall back to a bounded UNION ALL of the per-combo renders — loop
  //    semantics, still one job (fanoutUnionSql). Limits (fail loud):
  //    python/export/multi-statement steps, live-target writes, generator
  //    fields in table position or quoted literals, INSERT prefixes that
  //    differ per combo, and fallbacks past FanoutUnionCap. Per-combo
  //    `maint` pre-commands run once per DISTINCT rendered command
  //    (amortized, not per-batch — at this grain per-batch maintenance is
  //    meaningless).
  private def executeFanoutAsOneJob(packet: Packet, step: Step,
      ctx: StepContext, cs: Seq[(Option[GenRow], Option[GenRow])],
      stepsHashes: mutable.Set[String], tracking: Boolean,
      readOnly: Boolean): Outcome = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._

    def unsupported(why: String): Outcome =
      Outcome(Kind.Error, Some(s"${step.name}: fan-out ${cs.size} exceeds " +
        s"maxFanout=${conf.maxFanout} and cannot run as one joined job " +
        s"($why); raise maxFanout or restructure the step"), Some(step.name))

    val stms = SqlSplitter.split(step.sql)
    if (step.isPython) return unsupported("python step")
    if (packet.meta.packetType == PacketType.ExportData)
      return unsupported("export step")
    if (stms.size != 1) return unsupported("multi-statement step")
    if (conf.jdbc.isDefined && packet.meta.packetType != PacketType.ReadOnly &&
        stms.exists(s => !SqlSplitter.isReadOnlyStatement(s)))
      return unsupported("live-target write step")
    val stm = stms.head
    if ("(?i)(from|join|table)\\s+gen_(obj|nsp)_fld_".r
        .findFirstIn(stm.toLowerCase).isDefined)
      return unsupported("generator field in table position")
    // the loop path string-splices fields into literals correctly
    // (reference packets/test_common/02_gen_obj.sql:8-12); the one-job
    // rewrite would turn 'GEN_NSP_FLD_1%' into the literal column name —
    // silently wrong, so fail loud and route back to the loop contract
    if (PacketRunner.genTokenInQuotedLiteral(stm))
      return unsupported("generator field inside a quoted string literal")

    val nFldN = cs.head._1.map(f => f.fields.size - 1).getOrElse(0)
    val nFldO = cs.head._2.map(f => f.fields.size - 1).getOrElse(0)
    // per-combo rendered-SQL hash + field row (fields are 1-based; index 0
    // is the reserved maint command). Two combos can render IDENTICAL SQL
    // (e.g. a step using only the nsp fields under an obj fan-out) — the
    // loop path executes that once via stepsHashes, so the grid must too:
    // dedup by hash or an INSERT applies the action per-duplicate-combo.
    val byHash = new java.util.HashMap[String, (Option[GenRow], Option[GenRow])]()
    val rendered: Seq[Row] = cs.map { case (n, o) =>
      val r0 = n.map(x => Placeholders.applyNspRow(step.sql, x.fields))
        .getOrElse(step.sql)
      val r = o.map(x => Placeholders.applyObjRow(r0, x.fields)).getOrElse(r0)
      val h = PacketLoader.md5Hex(r)
      // first-occurrence wins, matching the loop path's stepsHashes dedup:
      // duplicate-hash combos may carry different maint pre-commands
      byHash.putIfAbsent(h, (n, o))
      Row.fromSeq(n.map(_.fields.drop(1)).getOrElse(Nil) ++
        o.map(_.fields.drop(1)).getOrElse(Nil) :+ h)
    }.distinctBy(r => r.getString(r.length - 1))
    val schema = StructType(
      (1 to nFldN).map(i => StructField(s"nsp_fld_$i", StringType)) ++
      (1 to nFldO).map(i => StructField(s"obj_fld_$i", StringType)) :+
      StructField("__hash", StringType))
    val fresh = rendered.filterNot(r =>
      stepsHashes.contains(r.getString(schema.length - 1)))
    // executed-history dedup stays DISTRIBUTED: the candidate grid
    // anti-joins the tracker's executed-hash DataFrame (broadcast), never a
    // driver-side set sized by the fan-out. The using-columns join MOVES
    // `__hash` to the front of its output, so re-select the original field
    // order — every consumer below reads the hash positionally (last).
    val pending: Seq[Row] =
      if (fresh.isEmpty) Nil
      else if (tracking) tracker.notYetExecuted(
        spark.createDataFrame(fresh.asJava, schema), "__hash",
        packet.name, step.name)
        .select(schema.fieldNames.head, schema.fieldNames.tail: _*)
        .collect().toSeq
      else fresh
    if (pending.isEmpty) {
      stepOutcomes(step.name) = StepOutcome.Done(0)
      log(s"step ${step.name}: distributed fan-out, nothing pending")
      return Outcome(Kind.Done)
    }
    if (conf.terminated()) return Outcome(Kind.Terminate)

    try {
      // distinct maint pre-commands of the PENDING combos (obj maint gets
      // nsp fields substituted, loop-path order, dbccore.py:954-966)
      pending.flatMap { r =>
        val h = r.getString(schema.length - 1)
        // fail loud, not MatchError(null), if a pending row's hash is not
        // in the grid (a column-order regression would land exactly here)
        val (n, o) = Option(byHash.get(h)).getOrElse(throw new IllegalStateException(
          s"${step.name}: pending fan-out hash $h missing from combo grid"))
        n.flatMap(_.maint).filter(_.nonEmpty).toSeq ++
          o.flatMap(_.maint).filter(_.nonEmpty).map { m =>
            n.map(x => Placeholders.applyNspRow(m, x.fields)).getOrElse(m)
          }.toSeq
      }.distinct.foreach(m => executeQ(ctx, packet, m))

      if (tracking)
        tracker.beginAction(packet.name, packet.packetHash, step.name,
          metaJson(packet))

      spark.createDataFrame(pending.asJava, schema)
        .createOrReplaceTempView("dbc_fanout_grid")
      var q = stm
      q = "GEN_NSP_FLD_(\\d+)".r.replaceAllIn(q,
        m => s"__g.nsp_fld_${m.group(1)}")
      q = "GEN_OBJ_FLD_(\\d+)".r.replaceAllIn(q,
        m => s"__g.obj_fld_${m.group(1)}")
      val wrapped = SqlSplitter.firstKeyword(stm) match {
        case "SELECT" | "WITH" =>
          s"SELECT __r.* FROM dbc_fanout_grid __g, LATERAL ($q) __r"
        case "INSERT" =>
          // wrap the trailing SELECT body (partition specs cannot contain
          // the keyword, so the first SELECT is the body)
          val i = "(?i)\\bselect\\b".r.findFirstMatchIn(q).map(_.start)
            .getOrElse(-1)
          if (i < 0) return unsupported("INSERT without a SELECT body")
          s"${q.substring(0, i)} SELECT __r.* FROM dbc_fanout_grid __g, " +
            s"LATERAL (${q.substring(i)}) __r"
        case other => return unsupported(s"$other statement")
      }
      // executeQ owns the packet-type semantics (read_only guard, no_commit
      // analyze-only, resultset capture + hooks) for the single statement
      try executeQ(ctx, packet, wrapped)
      catch {
        // Spark supports lateral outer references only in WHERE/HAVING; a
        // step PROJECTING a generator field falls back to a bounded
        // UNION ALL of the per-combo rendered statements — loop-path
        // semantics by construction (same string splicing), still ONE
        // distributed job. Bounded because each branch is a plan subtree:
        // past the cap the plan itself becomes the bottleneck, so fail
        // loud instead of degrading silently.
        case e: org.apache.spark.sql.AnalysisException
            if String.valueOf(e.getMessage).contains("CORRELATED_REFERENCE") =>
          val combos = pending.map { r =>
            val h = r.getString(schema.length - 1)
            Option(byHash.get(h)).getOrElse(throw new IllegalStateException(
              s"${step.name}: pending fan-out hash $h missing from combo grid"))
          }
          fanoutUnionSql(stm, combos) match {
            case Right(unionSql) => executeQ(ctx, packet, unionSql)
            case Left(why) =>
              tracker.flushActions()
              return unsupported(why)
          }
      }
      if (tracking) {
        pending.foreach(r => tracker.applyAction(packet.name, step.name,
          r.getString(schema.length - 1)))
        tracker.flushActions()
      }
      pending.foreach(r => stepsHashes += r.getString(schema.length - 1))
      stepOutcomes(step.name) = StepOutcome.Done(pending.size)
      log(s"step ${step.name}: distributed fan-out done " +
        s"(${pending.size} combos, one job)")
      Outcome(Kind.Done)
    } catch {
      case e: Throwable =>
        if (sys.env.contains("GRAFT_DEBUG")) e.printStackTrace()
        tracker.flushActions()
        conf.hookSink.foreach(_.raiseHook(packet.meta, step.name,
          Notice("EXCEPTION", String.valueOf(e.getMessage))))
        if (conf.terminated()) Outcome(Kind.Terminate)
        else if (conf.skipStepCancel || conf.skipActionCancel) {
          // one job IS the whole fan-out: both skip flags degrade to
          // skip-the-step (no action applied, a re-run retries everything)
          errorsCount += 1
          Outcome(Kind.Skipped, Some("skip_step"), Some(step.name))
        } else Jdbc.retryClass(e) match {
          case Some(kind) => Outcome(Kind.Retryable, Some(kind), Some(step.name))
          case None => Outcome(Kind.Error, Some(trim(e.getMessage)),
            Some(step.name))
        }
    }
  }

  // one-job fan-out fallback cap: each UNION ALL branch is a full plan
  // subtree, and Catalyst analysis cost grows with plan size — past this
  // the "one job" stops being cheaper than the loop, so fail loud
  private val FanoutUnionCap = 1024

  /** Per-combo rendered statements as ONE UNION ALL statement (the
    * one-job fallback for projection-position generator fields). Each
    * branch is the SAME string splice the loop path executes, so
    * semantics match the loop contract exactly (aggregates, ORDER BY and
    * literals stay combo-scoped). INSERTs require an identical prefix
    * across combos — a generator field inside the INSERT clause itself
    * (e.g. a partition spec) cannot union into one statement. */
  private def fanoutUnionSql(stm: String,
      combos: Seq[(Option[GenRow], Option[GenRow])]): Either[String, String] = {
    if (combos.size > FanoutUnionCap)
      return Left(s"projection-position generator fields with " +
        s"${combos.size} combos exceed the union-all fallback cap " +
        s"$FanoutUnionCap")
    val rendered = combos.map { case (n, o) =>
      val r0 = n.map(x => Placeholders.applyNspRow(stm, x.fields)).getOrElse(stm)
      o.map(x => Placeholders.applyObjRow(r0, x.fields)).getOrElse(r0)
    }
    SqlSplitter.firstKeyword(stm) match {
      case "SELECT" | "WITH" =>
        Right(rendered.map(r => s"($r)").mkString("\nUNION ALL\n"))
      case "INSERT" =>
        val parts = rendered.map { r =>
          // skip 'select' occurrences inside quoted literals — a spliced
          // generator VALUE containing the word must not split the prefix
          PacketRunner.firstSelectOutsideLiterals(r)
            .map(i => (r.substring(0, i), r.substring(i)))
        }
        if (parts.exists(_.isEmpty))
          return Left("INSERT without a SELECT body")
        val prefixes = parts.flatten.map(_._1.trim).distinct
        if (prefixes.size != 1)
          return Left("generator field inside the INSERT clause itself " +
            "(prefix differs per combo) cannot run as one union-all job")
        Right(prefixes.head + " SELECT * FROM (\n" +
          parts.flatten.map(p => s"(${p._2})").mkString("\nUNION ALL\n") +
          "\n) __u")
      case other => Left(s"$other statement")
    }
  }

  // -- execute_q (dbccore.py:831-903) ------------------------------------
  private def executeQ(ctx: StepContext, packet: Packet, sql: String): Unit = {
    // verbatim-PG-dialect packets (conf.pgDialect): each statement is
    // source-rewritten into Spark SQL AFTER splitting (the splitter
    // understands PG text fine; the rewriter takes one statement) and
    // the catalog-backed functions the reference SQL calls are ensured.
    // Packet files stay byte-identical — the rewrite is execution-time.
    val stms0 = SqlSplitter.split(sql)
    val stms =
      if (!conf.pgDialect) stms0
      else {
        graft.sources.PgCatalog.ensureFunctionsRegistered(spark)
        // DO blocks stay RAW: PlPgSqlDo rewrites their inner queries
        // itself (the outer $$ body is not SQL the rewriter lexes);
        // PG-DDL statements on mapped tables stay RAW too ([[PgDdl]]
        // maps names and dispatches itself — dollar-quoted function
        // bodies are not SQL the rewriter lexes either)
        stms0.map(st =>
          if (PlPgSqlDo.isDo(st) ||
              PgDdl.handles(st, conf.pgSchemaMap)) st
          else PgDialectRewriter.rewrite(st))
      }
    val results = mutable.Buffer.empty[ResultSet]
    val pt = packet.meta.packetType
    if (pt == PacketType.ExportData) {
      // SELECT-only guard + CSV/zip sink (E20) — ExportSink owns semantics
      ExportSink.exportData(spark, ctx, stms,
        conf.exportDir.getOrElse(conf.stateDir + "/export"), packet.meta)
      return
    }
    // JDBC write routing: a step containing ANY write runs WHOLE on one
    // database connection in one transaction (reference execute_q
    // bracketing, dbccore.py:831-903) — its read statements then observe
    // the transaction's own uncommitted effects, exactly like the
    // reference; pure-read steps stay on the Spark view path (DataFrame
    // plans with pushdown). Maintenance statements route outside the
    // transaction either way (E9).
    val jdbcWrite = conf.jdbc.isDefined && pt != PacketType.ReadOnly &&
      stms.exists(s => !SqlSplitter.isReadOnlyStatement(s) &&
        !SqlSplitter.isMaintenanceStatement(s))
    if (jdbcWrite) {
      val ch = conf.jdbc.get
      val (maint, txStms) = stms.partition(SqlSplitter.isMaintenanceStatement)
      maint.foreach { m =>
        notices += Notice("INFO",
          s"maintenance statement: ${SqlSplitter.firstKeyword(m)}")
        runMaintenance(ch = Some(ch), m)
      }
      // no_commit on a live target is the reference's execute-then-rollback
      // dry run (dbccore.py:886-888)
      val commit = pt != PacketType.NoCommit
      val (rs, hadDdl) = Jdbc.executeTx(ch, txStms, conf.resultRowCap, commit)
      if (!commit)
        notices += Notice("INFO",
          s"no_commit: rolled back ${txStms.size} statement(s)")
      results ++= rs
      // created/dropped tables must be visible to later SELECT steps
      if (hadDdl && commit) Jdbc.registerTables(spark, ch)
      if (results.nonEmpty) {
        resultData(ctx.stepName) = results.toSeq
        conf.hookSink.foreach(_.resultsetHook(packet.meta, ctx.stepName, results.toSeq))
      }
      return
    }
    // PG-DDL inner executor for DO-gated DDL (the int4→int8 packet's
    // trigger/constraint setup runs INSIDE an IF … THEN … END IF)
    def pgExec(st: String): Unit =
      if (PgDdl.handles(st, conf.pgSchemaMap))
        PgDdl.execute(spark, conf.pgSchemaMap, conf.pgCreatePartition,
          st, m => notices += Notice("INFO", m))
      else executeOne(ctx, packet, pt, PgDialectRewriter.rewrite(st),
        results)
    stms.foreach { stm =>
      // verbatim PL/pgSQL DO blocks (alert packets' condition-gated
      // raises) run through the narrow executor INSTEAD of the SQL
      // path, and ahead of the read-only guard: the reference runs DO
      // under a read-only session and PG enforces writes inside — this
      // executor only ever SELECTs (or routes gated DDL through the
      // PG-DDL layer), and a raise exception throws into the E22 path
      if (conf.pgDialect && PlPgSqlDo.isDo(stm)) {
        if (conf.pgSchemaMap.nonEmpty &&
            stm.toLowerCase.contains("information_schema"))
          PgDdl.refreshInfoSchema(spark, conf.pgSchemaMap)
        if (conf.pgSchemaMap.nonEmpty)
          PlPgSqlDo.execute(spark, stm,
            m => notices += Notice("NOTICE", m), pgExec)
        else PlPgSqlDo.execute(spark, stm,
          m => notices += Notice("NOTICE", m))
      }
      else if (conf.pgDialect && PgDdl.handles(stm, conf.pgSchemaMap))
        PgDdl.execute(spark, conf.pgSchemaMap, conf.pgCreatePartition,
          stm, m => notices += Notice("INFO", m))
      else executeOne(ctx, packet, pt, stm, results)
    }
    if (results.nonEmpty) {
      resultData(ctx.stepName) = results.toSeq
      conf.hookSink.foreach(_.resultsetHook(packet.meta, ctx.stepName,
        results.toSeq))
    }
  }

  private def executeOne(ctx: StepContext, packet: Packet,
      pt: PacketType, stm: String,
      results: mutable.Buffer[ResultSet]): Unit = {
      val ro = SqlSplitter.isReadOnlyStatement(stm)
      if (pt == PacketType.ReadOnly && !ro)
        throw new IllegalStateException(
          s"cannot execute ${SqlSplitter.firstKeyword(stm)} in a read-only packet")
      if (pt == PacketType.NoCommit && !ro) {
        // dry-run (reference executes-then-rolls-back, dbccore.py:886-888):
        // parse AND analyze so syntax errors and missing tables/columns
        // fail the validation run — but never execute the effect
        val parsed = spark.sessionState.sqlParser.parsePlan(stm)
        spark.sessionState.executePlan(parsed).assertAnalyzed()
        notices += Notice("INFO", s"no_commit: skipped ${SqlSplitter.firstKeyword(stm)}")
      } else if (SqlSplitter.isMaintenanceStatement(stm)) {
        // E9: non-transactional maintenance routing (reference
        // is_non_tx_query, dbccore.py:717-722,848-850) — executed directly,
        // outside any sink transaction bracketing, and logged as such
        notices += Notice("INFO",
          s"maintenance statement: ${SqlSplitter.firstKeyword(stm)}")
        runMaintenance(conf.jdbc, stm)
      } else {
        // live-target dialect passthrough: a read statement the Spark
        // parser rejects (::casts, VALUES CURRENT …, other server-isms)
        // still runs verbatim on the database — the reference sends every
        // statement to the server anyway, so read-only parity must not
        // depend on Spark's dialect
        // the classification probe's parsed plan is REUSED on success so
        // Spark-runnable statements are parsed once, not twice
        val probed: Option[DataFrame] =
          if (conf.jdbc.isEmpty) Some(spark.sql(stm))
          else try {
            val p = spark.sessionState.sqlParser.parsePlan(stm)
            val df = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, p)
            df.queryExecution.assertAnalyzed()
            Some(df)
          } catch {
            // parse- or analysis-rejected → the server is the authority
            // (execution errors after analysis stay Spark-side)
            case _: org.apache.spark.sql.catalyst.parser.ParseException => None
            case _: org.apache.spark.sql.AnalysisException => None
          }
        if (probed.isEmpty) {
          // the packet type's write promises must hold on the passthrough:
          // read_only → server-enforced READ ONLY connection; no_commit →
          // execute-then-rollback (a keyword-misclassified writing CTE must
          // not commit)
          val (rs, _) = Jdbc.executeTx(conf.jdbc.get, Seq(stm),
            conf.resultRowCap,
            commit = pt != PacketType.NoCommit,
            readOnly = pt == PacketType.ReadOnly)
          results ++= rs
          stmResult(ctx, packet, stm,
            if (rs.isEmpty) None else Some(rs.map(_.rows.size.toLong).sum))
        } else {
          val df = probed.get
          if (df.schema.nonEmpty) {
            val rows = df.take(conf.resultRowCap)
            results += ResultSet(df.schema.fieldNames.toSeq,
              rows.map(_.toSeq).toSeq)
            stmResult(ctx, packet, stm, Some(rows.length.toLong))
          } else stmResult(ctx, packet, stm, commandRows(df))
        }
      }
  }

  /** stm_result hook: the statement's keyword and row count — rows
    * returned, or what a write command's `numOutputRows` metric reports
    * (read off the eagerly executed command, no extra job). */
  private def stmResult(ctx: StepContext, packet: Packet, stm: String,
      rows: => Option[Long]): Unit =
    conf.hookSink.foreach(_.stmResultHook(packet.meta, ctx.stepName,
      SqlSplitter.firstKeyword(stm) + rows.fold("")(n => s" ($n rows)")))

  private def commandRows(df: DataFrame): Option[Long] =
    df.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan.metrics.get("numOutputRows").map(_.value)
      case _ => None
    }

  /** E9 routing by OWNER: Spark maintains its own view caches (REFRESH
    * TABLE/...); everything else in the maintenance surface belongs to the
    * database on a live target — executed there on an autocommit
    * connection (VACUUM et al. refuse transaction blocks on PG). */
  private def runMaintenance(ch: Option[JdbcChannel], stm: String): Unit =
    ch match {
      case Some(c) if !Jdbc.isSparkSideMaintenance(stm) =>
        Jdbc.executeAutoCommit(c, stm)
      case _ if conf.pgDialect => pgMaintenance(stm)
      case _ => spark.sql(stm)
    }

  /** PG-dialect maintenance on a Spark target: `ANALYZE t` / `VACUUM t`
    * collect statistics server-side in PG — the closest Spark-side
    * effect on a synthesized relation is a cache refresh, and like PG
    * the statement never changes results. A target the fixture does not
    * serve (e.g. pg_amop) is a recorded no-op, not a failure — the
    * reference's ANALYZE succeeds regardless of table size or use. */
  private def pgMaintenance(stm: String): Unit = {
    // the rewriter renders mapped multi-part names with spaced dots
    val s = SqlSplitter.stripComments(stm).trim.stripSuffix(";")
      .replaceAll("\\s*\\.\\s*", ".")
    val m = "(?is)^(analyze|vacuum)\\b(?:\\s+(?:full|freeze|verbose|" +
      "analyze))*\\s*([A-Za-z_][\\w.]*)?\\s*$"
    m.r.findFirstMatchIn(s) match {
      case Some(g) =>
        Option(g.group(2)) match {
          case Some(t) =>
            try spark.catalog.refreshTable(t)
            catch { case scala.util.control.NonFatal(_) =>
              notices += Notice("INFO",
                s"maintenance no-op: relation $t not served by this " +
                  "target")
            }
          case None => () // bare ANALYZE/VACUUM: whole-database no-op
        }
      case None => spark.sql(PgDialectRewriter.rewrite(s))
    }
  }

  /** Collect one generator's grid. `memo` (one per evaluation pass)
    * serves a query whose text equals an earlier deterministic one's
    * up to comments and whitespace ([[genKey]]): generators that only
    * steer the run must not each pay a collect's jobs. */
  private def collectGen(sql: String,
      memo: mutable.Map[String, Seq[GenRow]]): Seq[GenRow] = {
    // verbatim-PG-dialect packets: generator SQL is reference text too
    // (generate_series grids, PG casts) — rewrite at execution exactly
    // like step statements (E7 fan-out composes with the dialect layer)
    val q =
      if (!conf.pgDialect) sql
      else {
        graft.sources.PgCatalog.ensureFunctionsRegistered(spark)
        PgDialectRewriter.rewrite(sql)
      }
    val key = genKey(q)
    memo.getOrElse(key, {
      val df: DataFrame = spark.sql(q)
      val rows = df.collect().toSeq.map { r =>
        val vals = r.toSeq.map(v => Option(v).map(_.toString))
        GenRow(vals.headOption.flatten,
          vals.map(_.getOrElse("null")))
      }
      if (df.queryExecution.analyzed.deterministic) memo(key) = rows
      rows
    })
  }

  private def statusOf(packet: Packet): String =
    tracker.packetStatus(packet.name).map(_.status).getOrElse("new")

  private def metaJson(packet: Packet): String =
    s"""{"type":"${PacketType.name(packet.meta.packetType)}","description":"${packet.meta.description.replace("\"", "'")}"}"""

  private def trim(s: String): String =
    if (s == null) "error" else if (s.length > 500) s.take(500) + "…" else s

  private def result(packet: Packet, code: String, status: String,
      err: Option[String] = None): RunResult = {
    err.foreach(e => notices += Notice("ERROR", e))
    RunResult(
      resultCode = Map(conf.target -> code),
      packetStatus = Map(conf.target -> status),
      stepResults = Map(conf.target -> stepOutcomes.toMap),
      notices = notices.toSeq,
      resultData = Map(conf.target -> resultData.toMap))
  }
}

object PacketRunner {
  val ResultSuccess = "success"
  val ResultFail = "fail"
  val ResultLocked = "locked"
  val ResultNothingTodo = "nothing_todo"
  val ResultTerminate = "terminate"

  /** One generator resultset row: `maint` is field 0 (reserved pre-command),
    * `fields` are the stringified values substituted for GEN_*_FLD_i
    * (1-based; dbccore.py:30-36). */
  final case class GenRow(maint: Option[String], fields: Seq[String])

  /** True when any GEN_*_FLD_ token sits inside a single-quoted SQL string
    * literal (with `''` escaping) — e.g. `name LIKE 'GEN_NSP_FLD_1%'`. The
    * loop path splices the field VALUE into that literal; the one-job
    * column-reference rewrite cannot, so such steps must stay on the loop
    * contract (fail loud past maxFanout, never silently compare against the
    * literal column name). */
  /** Single-quoted string-literal spans (with `''` escaping); an
    * unterminated literal spans to the end. */
  def quotedSpans(sql: String): Seq[(Int, Int)] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    var inQ = false
    var start = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQ) {
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 1
          else { inQ = false; spans += ((start, i)) }
        }
      } else if (c == '\'') { inQ = true; start = i }
      i += 1
    }
    if (inQ) spans += ((start, sql.length))
    spans.toSeq
  }

  /** A generator query's memo key: the text with each run of whitespace
    * and comments collapsed to one space. `'…'`/`"…"` literals
    * (backslash escapes, as Spark lexes them), `` `…` `` identifiers and
    * `/*+ … */` hints are kept verbatim, so a `--` inside a literal is
    * never a comment. Where this lexer and Spark's disagree (a nested
    * block comment) it keeps MORE text: keys may differ, never collide. */
  def genKey(sql: String): String =
    GenLexemes.replaceAllIn(sql, m =>
      if ("'\"`".contains(m.matched.head))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else " ").trim

  private val GenLexemes = ("""'[^'\\]*+(?:\\[\s\S][^'\\]*+)*+'?""" +
    """|"[^"\\]*+(?:\\[\s\S][^"\\]*+)*+"?|`[^`]*+`?""" +
    """|(?:\s++|--[^\n]*+|/\*(?!\+)[\s\S]*?(?:\*/|\z))++""").r

  def genTokenInQuotedLiteral(sql: String): Boolean = {
    val spans = quotedSpans(sql)
    spans.nonEmpty && "GEN_(NSP|OBJ)_FLD_\\d+".r.findAllMatchIn(sql)
      .exists(m => spans.exists { case (s, e) => m.start > s && m.start < e })
  }

  /** Offset of the first SELECT keyword OUTSIDE any quoted literal — the
    * INSERT-prefix split point for the union-all fan-out. A literal word
    * 'select' inside a quoted value (e.g. a partition name) must not
    * split the statement. */
  def firstSelectOutsideLiterals(sql: String): Option[Int] = {
    val spans = quotedSpans(sql)
    "(?i)\\bselect\\b".r.findAllMatchIn(sql)
      .map(_.start)
      .find(p => !spans.exists { case (s, e) => p > s && p < e })
  }
}
