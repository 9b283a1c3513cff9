package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.sources.Tables

/** Distributed one-job fan-out (PacketRunner.executeFanoutAsOneJob):
  * past maxFanout the combo grid becomes a DataFrame joined LATERALLY
  * against the rewritten statement. These tests pin the contract that the
  * one-job path is OBSERVATIONALLY IDENTICAL to the loop path — same final
  * table, same action history, same dedup — and fails loud where the
  * rewrite cannot preserve loop semantics (GEN token inside a quoted
  * string literal, reference contract packets/test_common/02_gen_obj.sql).
  */
class FanoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val fixtures = "/root/testdata/sf0.001"

  private def mkPacket(name: String, files: Map[String, String]): String = {
    val dir = Files.createTempDirectory("graft-fanout").resolve(name)
    Files.createDirectories(dir)
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }
    dir.toString
  }

  private def run(dir: String, tbl: String, maxFanout: Int): RunResult = {
    Tables.registerAll(spark, fixtures)
    val conf = RunnerConf(
      stateDir = Files.createTempDirectory("graft-fanout-state").toString,
      maxFanout = maxFanout,
      placeholders = Map("tbl" -> tbl,
        "loc" -> Files.createTempDirectory("graft-fanout-out").toString))
    new PacketRunner(spark, conf).run(dir)
  }

  // grid refs in WHERE only: Spark's lateral correlation supports outer
  // references in WHERE/HAVING; projection-position refs take the
  // union-all fallback (pinned in a dedicated test below)
  private val parityFiles = Map(
    "run_once.sql" ->
      """DROP TABLE IF EXISTS DBC_PL_tbl;
        |CREATE TABLE DBC_PL_tbl (rk BIGINT, n BIGINT)
        |USING parquet LOCATION 'DBC_PL_loc';""".stripMargin,
    "01_gen_obj.sql" ->
      "SELECT NULL AS maint, r_regionkey FROM region ORDER BY r_regionkey",
    "01_step.sql" ->
      """INSERT INTO DBC_PL_tbl
        |SELECT CAST(min(n_regionkey) AS BIGINT) AS rk, count(*) AS n
        |FROM nation WHERE n_regionkey = GEN_OBJ_FLD_1;""".stripMargin,
    "meta_data.json" -> """{"description": "fanout parity"}""")

  test("one-job fan-out produces the same table and action count as the " +
      "loop path, and a re-run is idempotent") {
    val dir = mkPacket("fanout_parity", parityFiles)
    val loop = run(dir, "fo_loop", maxFanout = 1000) // 5 combos: loop path
    assert(loop.resultCode("spark") == "success", loop.notices.mkString("; "))
    assert(loop.stepResults("spark")("01_step.sql") == StepOutcome.Done(5))
    val expect = spark.table("fo_loop").orderBy("rk").collect().toSeq
    assert(expect.size == 5 && expect.forall(_.getLong(1) == 5L))

    val job = run(dir, "fo_job", maxFanout = 2) // 5 combos > 2: one job
    assert(job.resultCode("spark") == "success", job.notices.mkString("; "))
    assert(job.stepResults("spark")("01_step.sql") == StepOutcome.Done(5))
    val got = spark.table("fo_job").orderBy("rk").collect().toSeq
    assert(got == expect, s"one-job result diverged: $got vs $expect")

  }

  test("one-job fan-out resume interop: a re-run against the same tracker " +
      "state executes zero new actions (hash histories interoperate)") {
    val dir = mkPacket("fanout_resume", parityFiles)
    Tables.registerAll(spark, fixtures)
    val state = Files.createTempDirectory("graft-fanout-state").toString
    val loc = Files.createTempDirectory("graft-fanout-out").toString
    def conf(maxFanout: Int) = RunnerConf(stateDir = state,
      maxFanout = maxFanout,
      placeholders = Map("tbl" -> "fo_resume", "loc" -> loc))
    // first run distributed, re-run via the LOOP path: the loop must see
    // every per-combo hash the one-job run applied and execute nothing
    val first = new PacketRunner(spark, conf(2)).run(dir)
    assert(first.resultCode("spark") == "success", first.notices.mkString("; "))
    assert(first.stepResults("spark")("01_step.sql") == StepOutcome.Done(5))
    val again = new PacketRunner(spark, conf(1000)).run(dir)
    assert(again.resultCode("spark") == "success", again.notices.mkString("; "))
    assert(again.stepResults("spark")("01_step.sql") == StepOutcome.Done(0),
      "loop re-run must skip every action the one-job run applied")
  }

  test("duplicate combos rendering identical SQL apply ONCE in the one-job " +
      "path (loop-path stepsHashes parity)") {
    val files = Map(
      "run_once.sql" ->
        """DROP TABLE IF EXISTS DBC_PL_tbl;
          |CREATE TABLE DBC_PL_tbl (g BIGINT, n BIGINT)
          |USING parquet LOCATION 'DBC_PL_loc';""".stripMargin,
      "01_gen_obj.sql" ->
        """SELECT NULL AS maint, 0 AS g
          |UNION ALL SELECT NULL, 0
          |UNION ALL SELECT NULL, 1""".stripMargin,
      "01_step.sql" ->
        """INSERT INTO DBC_PL_tbl
          |SELECT CAST(min(n_regionkey) AS BIGINT) AS g, count(*) AS n
          |FROM nation WHERE n_regionkey >= GEN_OBJ_FLD_1;""".stripMargin,
      "meta_data.json" -> """{"description": "fanout dup"}""")
    val dir = mkPacket("fanout_dup", files)

    val loop = run(dir, "fo_dup_loop", maxFanout = 1000)
    assert(loop.resultCode("spark") == "success", loop.notices.mkString("; "))
    // 3 combos, 2 distinct rendered statements: the loop dedups via
    // stepsHashes and reports 2 actions
    assert(loop.stepResults("spark")("01_step.sql") == StepOutcome.Done(2))
    assert(spark.table("fo_dup_loop").count() == 2)

    val job = run(dir, "fo_dup_job", maxFanout = 1) // 3 combos > 1: one job
    assert(job.resultCode("spark") == "success", job.notices.mkString("; "))
    assert(job.stepResults("spark")("01_step.sql") == StepOutcome.Done(2))
    assert(spark.table("fo_dup_job").count() == 2,
      "duplicate combo double-applied in the one-job path")
    assert(spark.table("fo_dup_job").orderBy("g").collect().toSeq ==
      spark.table("fo_dup_loop").orderBy("g").collect().toSeq)
  }

  test("nsp×obj combined grid: one-job path matches the loop path on a " +
      "two-generator fan-out") {
    val files = Map(
      "run_once.sql" ->
        """DROP TABLE IF EXISTS DBC_PL_tbl;
          |CREATE TABLE DBC_PL_tbl (n BIGINT)
          |USING parquet LOCATION 'DBC_PL_loc';""".stripMargin,
      "01_gen_nsp.sql" ->
        ("SELECT NULL AS maint, r_regionkey FROM region " +
          "WHERE r_regionkey < 2 ORDER BY r_regionkey"),
      "01_gen_obj.sql" ->
        ("SELECT NULL AS maint, n_nationkey FROM nation " +
          "WHERE n_nationkey < 3 ORDER BY n_nationkey"),
      // 2 nsp × 3 obj = 6 combos; both fields referenced in WHERE
      "01_step.sql" ->
        """INSERT INTO DBC_PL_tbl
          |SELECT count(*) AS n FROM nation
          |WHERE n_regionkey = GEN_NSP_FLD_1 AND n_nationkey >= GEN_OBJ_FLD_1;""".stripMargin,
      "meta_data.json" -> """{"description": "fanout nsp obj"}""")
    val dir = mkPacket("fanout_nspobj", files)

    val loop = run(dir, "fo_no_loop", maxFanout = 1000)
    assert(loop.resultCode("spark") == "success", loop.notices.mkString("; "))
    assert(loop.stepResults("spark")("01_step.sql") == StepOutcome.Done(6))
    val expect = spark.table("fo_no_loop").orderBy("n").collect().toSeq

    val job = run(dir, "fo_no_job", maxFanout = 3) // 6 combos > 3: one job
    assert(job.resultCode("spark") == "success", job.notices.mkString("; "))
    assert(job.stepResults("spark")("01_step.sql") == StepOutcome.Done(6))
    val got = spark.table("fo_no_job").orderBy("n").collect().toSeq
    assert(got == expect, s"nsp-obj one-job diverged: $got vs $expect")
  }

  test("GEN token inside a quoted string literal fails loud past maxFanout " +
      "(the rewrite cannot splice values into literals) but the loop path " +
      "string-splices it correctly") {
    val files = Map(
      "01_gen_obj.sql" ->
        ("SELECT NULL AS maint, r_regionkey, r_name FROM region " +
          "ORDER BY r_regionkey"),
      "01_step.sql" ->
        "SELECT r_name FROM region WHERE r_name LIKE 'GEN_OBJ_FLD_2%';",
      "meta_data.json" ->
        """{"description": "fanout quoted literal", "type": "read_only"}""")
    val dir = mkPacket("fanout_quoted", files)

    val loop = run(dir, "unused", maxFanout = 1000)
    assert(loop.resultCode("spark") == "success", loop.notices.mkString("; "))

    val job = run(dir, "unused", maxFanout = 2)
    assert(job.resultCode("spark") == "fail")
    val failed = job.stepResults("spark")("01_step.sql")
    assert(failed match {
      case StepOutcome.Failed(e) => e.contains("quoted string literal")
      case _ => false
    }, s"expected loud quoted-literal failure, got $failed")
  }

  test("GEN token in projection position matches the loop path past " +
      "maxFanout (union-all fallback: lateral outer references are " +
      "WHERE/HAVING-only, so the per-combo renders union into one job)") {
    val files = Map(
      "run_once.sql" ->
        """DROP TABLE IF EXISTS DBC_PL_tbl;
          |CREATE TABLE DBC_PL_tbl (rk BIGINT, n BIGINT)
          |USING parquet LOCATION 'DBC_PL_loc';""".stripMargin,
      "01_gen_obj.sql" ->
        "SELECT NULL AS maint, r_regionkey FROM region ORDER BY r_regionkey",
      "01_step.sql" ->
        """INSERT INTO DBC_PL_tbl
          |SELECT CAST(GEN_OBJ_FLD_1 AS BIGINT) AS rk, count(*) AS n
          |FROM nation WHERE n_regionkey = GEN_OBJ_FLD_1;""".stripMargin,
      "meta_data.json" -> """{"description": "fanout projection ref"}""")
    val dir = mkPacket("fanout_proj", files)

    val loop = run(dir, "fo_proj_loop", maxFanout = 1000)
    assert(loop.resultCode("spark") == "success", loop.notices.mkString("; "))
    assert(spark.table("fo_proj_loop").count() == 5)

    val job = run(dir, "fo_proj_job", maxFanout = 2)
    assert(job.resultCode("spark") == "success", job.notices.mkString("; "))
    assert(job.stepResults("spark")("01_step.sql") == StepOutcome.Done(5))
    val expect = spark.table("fo_proj_loop").orderBy("rk").collect().toSeq
    val got = spark.table("fo_proj_job").orderBy("rk").collect().toSeq
    assert(got == expect, "union-all fallback must reproduce the loop path")
  }

  test("union-all fallback handles a two-generator grid with BOTH fields " +
      "in projection position") {
    val files = Map(
      "run_once.sql" ->
        """DROP TABLE IF EXISTS DBC_PL_tbl;
          |CREATE TABLE DBC_PL_tbl (rk BIGINT, nk BIGINT, n BIGINT)
          |USING parquet LOCATION 'DBC_PL_loc';""".stripMargin,
      "01_gen_nsp.sql" ->
        ("SELECT NULL AS maint, r_regionkey FROM region " +
          "WHERE r_regionkey < 2 ORDER BY r_regionkey"),
      "01_gen_obj.sql" ->
        ("SELECT NULL AS maint, n_nationkey FROM nation " +
          "WHERE n_nationkey < 3 ORDER BY n_nationkey"),
      // both generator fields appear in the SELECT list (and one in an
      // ungrouped aggregate context), which the lateral rewrite rejects
      "01_step.sql" ->
        """INSERT INTO DBC_PL_tbl
          |SELECT CAST(GEN_NSP_FLD_1 AS BIGINT) AS rk,
          |  CAST(GEN_OBJ_FLD_1 AS BIGINT) AS nk, count(*) AS n
          |FROM nation
          |WHERE n_regionkey = GEN_NSP_FLD_1 AND n_nationkey >= GEN_OBJ_FLD_1;""".stripMargin,
      "meta_data.json" -> """{"description": "fanout proj nsp obj"}""")
    val dir = mkPacket("fanout_proj_nspobj", files)

    val loop = run(dir, "fo_pno_loop", maxFanout = 1000)
    assert(loop.resultCode("spark") == "success", loop.notices.mkString("; "))
    assert(loop.stepResults("spark")("01_step.sql") == StepOutcome.Done(6))
    val expect = spark.table("fo_pno_loop").orderBy("rk", "nk").collect().toSeq

    val job = run(dir, "fo_pno_job", maxFanout = 3)
    assert(job.resultCode("spark") == "success", job.notices.mkString("; "))
    assert(job.stepResults("spark")("01_step.sql") == StepOutcome.Done(6))
    val got = spark.table("fo_pno_job").orderBy("rk", "nk").collect().toSeq
    assert(got == expect, s"projection nsp-obj fallback diverged: $got vs $expect")
  }

  test("genTokenInQuotedLiteral classifies literals with '' escapes") {
    import PacketRunner.genTokenInQuotedLiteral
    assert(!genTokenInQuotedLiteral(
      "SELECT x FROM t WHERE a = GEN_OBJ_FLD_1"))
    assert(genTokenInQuotedLiteral(
      "SELECT x FROM t WHERE a LIKE 'GEN_OBJ_FLD_1%'"))
    assert(genTokenInQuotedLiteral(
      "SELECT 'GEN_NSP_FLD_2' AS v"))
    // '' escape: the literal spans the doubled quote
    assert(genTokenInQuotedLiteral(
      "SELECT 'it''s GEN_OBJ_FLD_1' AS v"))
    // token after a closed literal is NOT in a literal
    assert(!genTokenInQuotedLiteral(
      "SELECT 'plain' AS v, GEN_OBJ_FLD_1 AS w"))
    // unterminated literal still counts (fail safe)
    assert(genTokenInQuotedLiteral(
      "SELECT 'GEN_OBJ_FLD_1"))
  }

  test("INSERT union-all split skips 'select' inside quoted literals") {
    import PacketRunner.firstSelectOutsideLiterals
    val sql = "INSERT INTO t PARTITION (p = 'select') SELECT a FROM s"
    val at = firstSelectOutsideLiterals(sql)
    assert(at.contains(sql.indexOf("SELECT a")),
      s"split at $at, expected ${sql.indexOf("SELECT a")}")
    // escaped quote inside the value does not end the literal
    val esc = "INSERT INTO t PARTITION (p = 'it''s select') SELECT a FROM s"
    assert(firstSelectOutsideLiterals(esc).contains(esc.indexOf("SELECT a")))
    // no real SELECT at all
    assert(firstSelectOutsideLiterals(
      "INSERT INTO t VALUES ('select')").isEmpty)
  }

  // ---- generator memo: one collect per distinct deterministic query ----

  /** Runs a packet of generators 01/02 with one inserting step each;
    * returns the result and how many rows `gen_probe` evaluated (each
    * generator's collect evaluates it once per row). */
  private def runGens(name: String, g1: String, g2: String,
      extra: Map[String, String] = Map.empty): (RunResult, Long) = {
    spark.udf.register("gen_probe",
      (x: Long) => { GenProbe.calls.incrementAndGet(); x })
    GenProbe.calls.set(0)
    def step(n: String) =
      s"INSERT INTO DBC_PL_tbl VALUES ('$n', GEN_OBJ_FLD_1, 'GEN_OBJ_FLD_2');"
    val dir = mkPacket(name, Map(
      "run_once.sql" ->
        """DROP TABLE IF EXISTS DBC_PL_tbl;
          |CREATE TABLE DBC_PL_tbl (step STRING, k BIGINT, t STRING)
          |USING parquet LOCATION 'DBC_PL_loc';""".stripMargin,
      "01_gen_obj.sql" -> g1, "01_step.sql" -> step("01"),
      "02_gen_obj.sql" -> g2, "02_step.sql" -> step("02"),
      "meta_data.json" -> """{"description": "generator memo"}""") ++ extra)
    Tables.registerAll(spark, fixtures)
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-fanout-state").toString,
      connExceptionSleepMs = 10,
      placeholders = Map("tbl" -> s"gm_$name",
        "loc" -> Files.createTempDirectory("graft-fanout-out").toString)))
      .run(dir)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    (res, GenProbe.calls.get)
  }

  private def rowsOf(tbl: String): Seq[(String, Long, String)] =
    spark.table(tbl).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted

  test("generators differing only in comments and whitespace share ONE " +
      "collect; a '--' inside a literal is not a comment") {
    val (_, shared) = runGens("memo_comments",
      "-- first\nSELECT NULL AS maint, gen_probe(id) AS k, 'x' FROM range(3)",
      "/* second */ SELECT NULL AS maint,\n  gen_probe(id) " +
        "AS k, -- trailing\n 'x' FROM range(3) -- end")
    assert(shared == 3, s"$shared probe rows: expected one collect of 3")
    assert(rowsOf("gm_memo_comments") == (for {
      s <- Seq("01", "02"); k <- 0L to 2L } yield (s, k, "x")))

    val (_, literal) = runGens("memo_literal",
      "SELECT NULL AS maint, gen_probe(id) AS k, '--a' FROM range(3)",
      "SELECT NULL AS maint, gen_probe(id) AS k, '--b' FROM range(3)")
    assert(literal == 6, s"$literal probe rows: expected two collects")
    assert(rowsOf("gm_memo_literal").map(r => (r._1, r._3)).distinct ==
      Seq(("01", "--a"), ("02", "--b")))
  }

  test("genKey drops comments and whitespace, never literal text or hints") {
    import PacketRunner.genKey
    assert(genKey("SELECT a,\n  b -- x\nFROM t /* y\n z */ ;") ==
      "SELECT a, b FROM t ;")
    // the same '--' / '/*' inside literals and identifiers is text
    Seq("'--a'", "\"--a\"", "`--a`", "'it''s --a'", "'a\\' --a'")
      .foreach { lit =>
        assert(genKey(s"SELECT $lit") == s"SELECT $lit", lit)
        val other = lit.replace("a", "b")
        assert(genKey(s"SELECT $lit") != genKey(s"SELECT $other"))
      }
    assert(genKey("SELECT /*+ REPARTITION(2) */ a") ==
      "SELECT /*+ REPARTITION(2) */ a")
  }

  test("nondeterministic generators are each collected") {
    val g = "SELECT NULL AS maint, gen_probe(id) AS k, rand() FROM range(3)"
    val (_, calls) = runGens("memo_rand", g, "-- same text\n" + g)
    assert(calls == 6, s"$calls probe rows: expected two collects")
  }

  test("a reconnect attempt re-evaluates generators against the data as " +
      "it is now") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    ScalaSteps.register("memo_retry", "00_step.py") { ctx =>
      if (attempts.incrementAndGet() == 1) {
        ctx.spark.sql("CREATE OR REPLACE TEMPORARY VIEW gm_memo_retry_src " +
          "AS SELECT * FROM VALUES (1L), (7L) AS t(k)")
        throw new java.sql.SQLNonTransientConnectionException(
          "connection reset", "08006")
      }
    }
    val g = "SELECT NULL AS maint, gen_probe(k) AS k, 'y' FROM gm_memo_retry_src"
    val (_, calls) = runGens("memo_retry", g, g, Map(
      "00_step.py" -> "# fails once with a connection error",
      "run_once.sql" ->
        """DROP TABLE IF EXISTS DBC_PL_tbl;
          |CREATE TABLE DBC_PL_tbl (step STRING, k BIGINT, t STRING)
          |USING parquet LOCATION 'DBC_PL_loc';
          |CREATE OR REPLACE TEMPORARY VIEW gm_memo_retry_src AS
          |SELECT 1L AS k;""".stripMargin))
    assert(attempts.get == 2)
    // attempt 1 collects {1} once; attempt 2 collects {1, 7} once more
    assert(calls == 3, s"$calls probe rows")
    assert(rowsOf("gm_memo_retry").map(_._2).distinct == Seq(1L, 7L))
  }
}

/** Rows evaluated by the `gen_probe` UDF (a static counter: task
  * closures are serialized, so a captured local would be a copy). */
object GenProbe {
  val calls = new java.util.concurrent.atomic.AtomicLong
}
