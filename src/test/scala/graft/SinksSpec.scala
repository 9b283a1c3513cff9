package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.sources.Tables

/** Export sink, hook sink, and python-step (Scala callback) behavior —
  * mirrors reference tests TestDBCExportData (test_packets.py:586-632),
  * the mocked-webhook assertions (:19-22,98) and TestDBCPyStep (:635-666).
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val fixtures = "/root/testdata/sf0.001"

  private def mkPacket(name: String, files: Map[String, String]): String = {
    val dir = Files.createTempDirectory("graft-sink").resolve(name)
    Files.createDirectories(dir)
    files.foreach { case (n, c) => Files.writeString(dir.resolve(n), c) }
    dir.toString
  }

  test("export_data packet writes tab-delimited QUOTE_ALL csv with header") {
    Tables.registerAll(spark, fixtures)
    val exportDir = Files.createTempDirectory("graft-export").toString
    val dir = mkPacket("test_export_data", Map(
      "01_step.sql" -> "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey;",
      "meta_data.json" -> """{"type": "export_data"}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      exportDir = Some(exportDir))).run(dir)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    val csvs = Files.list(Paths.get(exportDir)).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".csv"))
    assert(csvs.size == 1)
    val lines = Files.readAllLines(csvs.head).asScala
    assert(lines.head == "\"r_regionkey\"\t\"r_name\"")
    assert(lines.size == 6) // header + 5 regions
    assert(lines(1).startsWith("\"0\"\t\""))
  }

  test("export_data with use_zip + random password embeds password in filename") {
    Tables.registerAll(spark, fixtures)
    val exportDir = Files.createTempDirectory("graft-export").toString
    val dir = mkPacket("test_export_zip", Map(
      "01_step.sql" -> "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey;",
      "meta_data.json" ->
        """{"type": "export_data", "export_options": {"use_zip": true, "password": "random"}}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      exportDir = Some(exportDir))).run(dir)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    val files = Files.list(Paths.get(exportDir)).iterator().asScala.toSeq
    val zips = files.filter(_.toString.endsWith(".zip"))
    assert(zips.size == 1)
    assert(files.count(_.toString.endsWith(".csv")) == 0, "csvs deleted after zipping")
    // filename contract: export_<12-char-password>_<ts>_<target>.zip
    val name = zips.head.getFileName.toString
    val m = "export_([A-Za-z0-9]{12})_\\d{8}-\\d{6}_spark\\.zip".r.findFirstMatchIn(name)
    assert(m.isDefined, s"unexpected zip name: $name")
    // the reference's test extracts the password from the filename and
    // decrypts (test_packets.py:586-632) — same round-trip here
    val password = m.get.group(1)
    val entries = engine.AesZip.read(zips.head.toString, password)
    assert(entries.size == 1)
    val content = new String(entries.values.head)
    assert(content.startsWith("\"n_nationkey\"\t\"n_name\""))
    assert(content.linesIterator.size == 26)
    // java's plain ZipFile refuses archives whose central directory
    // carries the encryption flag — proving the entry is actually marked
    // encrypted, not a plain zip with a fancy name
    intercept[java.util.zip.ZipException] {
      new java.util.zip.ZipFile(zips.head.toFile)
    }
    intercept[IllegalArgumentException] {
      engine.AesZip.read(zips.head.toString, "wrong-password")
    }
  }

  test("export_data packet rejects non-SELECT statements") {
    Tables.registerAll(spark, fixtures)
    val dir = mkPacket("test_export_bad", Map(
      "01_step.sql" -> "DROP TABLE IF EXISTS nope;",
      "meta_data.json" -> """{"type": "export_data"}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      exportDir = Some(Files.createTempDirectory("graft-export").toString))).run(dir)
    assert(res.resultCode("spark") == "fail")
    assert(res.notices.exists(_.message.contains("non-SELECT")))
  }

  test("resultset hook posts markdown filtered by verbosity") {
    Tables.registerAll(spark, fixtures)
    val posts = scala.collection.mutable.Buffer.empty[(String, String, String)]
    val dir = mkPacket("test_hook", Map(
      "01_step.sql" -> "SELECT r_name FROM region ORDER BY r_name LIMIT 2;",
      "meta_data.json" ->
        """{"hook": {"channel": "alerts", "username": "dbc", "verbosity": ["resultset"]}}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      hookSink = Some(HookSink.buffering(posts)))).run(dir)
    assert(res.resultCode("spark") == "success")
    assert(posts.size == 1)
    val (channel, user, md) = posts.head
    assert(channel == "alerts" && user == "dbc")
    assert(md.contains("**01_step.sql**"))
    assert(md.contains("| r_name |") && md.contains("| AFRICA |"))
  }

  test("stm_result hook posts each statement's keyword and row count, " +
      "with no extra Spark job") {
    Tables.registerAll(spark, fixtures)
    def run(verbosity: String) = {
      val posts = scala.collection.mutable.Buffer.empty[(String, String, String)]
      val loc = Files.createTempDirectory("graft-stm").toString
      val dir = mkPacket(s"test_hook_stm_$verbosity", Map(
        "01_step.sql" ->
          s"""DROP TABLE IF EXISTS stm_t;
             |CREATE TABLE stm_t (k BIGINT) USING parquet LOCATION '$loc';
             |INSERT INTO stm_t SELECT r_regionkey FROM region;
             |SELECT k FROM stm_t ORDER BY k LIMIT 3;""".stripMargin,
        "meta_data.json" ->
          s"""{"hook": {"channel": "c", "verbosity": ["$verbosity"]}}"""))
      val (res, jobs) = JobCount.of(spark)(new PacketRunner(spark, RunnerConf(
        stateDir = Files.createTempDirectory("graft-st").toString,
        hookSink = Some(HookSink.buffering(posts)))).run(dir))
      assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
      (posts.map(_._3).toSeq, jobs)
    }
    val (posts, jobs) = run("stm_result")
    assert(posts == Seq("DROP", "CREATE", "INSERT (5 rows)", "SELECT (3 rows)")
      .map("**01_step.sql** " + _), posts)
    val (none, quietJobs) = run("raise")
    assert(none.isEmpty && jobs == quietJobs, s"$jobs vs $quietJobs jobs")
  }

  test("hook type slack posts the slack payload shape, same verbosity filter") {
    // reference dbccore.py:632-648,696-697: hook.type selects the dialect —
    // slack gets *single-asterisk* emphasis + code-fenced tables, and the
    // payload carries text only (the webhook key selects the channel)
    Tables.registerAll(spark, fixtures)
    val mm = scala.collection.mutable.Buffer.empty[(String, String, String)]
    val slack = scala.collection.mutable.Buffer.empty[(String, String)]
    val dir = mkPacket("test_hook_slack", Map(
      "01_step.sql" -> "SELECT r_name FROM region ORDER BY r_name LIMIT 2;",
      "meta_data.json" ->
        """{"hook": {"type": "slack", "channel": "alerts", "verbosity": ["resultset"]}}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      hookSink = Some(HookSink.bufferingBoth(mm, slack)))).run(dir)
    assert(res.resultCode("spark") == "success")
    assert(mm.isEmpty, "slack hook must not reach the mattermost transport")
    assert(slack.size == 1)
    val (channel, text) = slack.head
    assert(channel == "alerts")
    assert(text.contains(":gear: *01_step.sql*"))
    assert(text.contains("```\n| r_name |") && text.contains("| AFRICA |"))
    // and raise-only verbosity suppresses it, same filter as mattermost
    val slack2 = scala.collection.mutable.Buffer.empty[(String, String)]
    val dir2 = mkPacket("test_hook_slack2", Map(
      "01_step.sql" -> "SELECT 1 AS x;",
      "meta_data.json" ->
        """{"hook": {"type": "slack", "channel": "c", "verbosity": ["raise"]}}"""))
    new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      hookSink = Some(HookSink.bufferingBoth(mm, slack2)))).run(dir2)
    assert(slack2.isEmpty)
  }

  test("Webhooks.fromIni routes both dialects to their webhook urls") {
    // [mattermost_hooks] chat_keys are chat/KEY, posts to url/hooks/KEY with
    // channel+username in the payload; [slack_hooks] chat_keys are chat=KEY,
    // posts to url/KEY text-only (db_converter.py:84-103, 317-329)
    val sent = scala.collection.mutable.Buffer.empty[(String, String)]
    val ini = Map(
      "mattermost_hooks" -> Map(
        "url" -> "https://mm.example.com",
        "chat_keys" -> "alerts/MKEY1,ops/MKEY2"),
      "slack_hooks" -> Map(
        "url" -> "https://hooks.slack.example",
        "chat_keys" -> "alerts=SKEY1"))
    val sink = Webhooks.fromIni(ini, (url, body) => sent += ((url, body))).get
    val mmMeta = MetaData(hook = Some(HookConf(
      channel = Some("ops"), username = Some("dbc"), verbosity = Set("all"))))
    sink.raiseHook(mmMeta, "01_step.sql", Notice("ERROR", "boom \"quoted\""))
    val slMeta = MetaData(hook = Some(HookConf(hookType = "slack",
      channel = Some("alerts"), verbosity = Set("all"))))
    sink.raiseHook(slMeta, "01_step.sql", Notice("ERROR", "boom"))
    assert(sent.size == 2)
    assert(sent(0)._1 == "https://mm.example.com/hooks/MKEY2")
    assert(sent(0)._2.contains("\"channel\":\"ops\"") &&
      sent(0)._2.contains("\"username\":\"dbc\"") &&
      sent(0)._2.contains("\\\"quoted\\\""))
    assert(sent(1)._1 == "https://hooks.slack.example/SKEY1")
    assert(sent(1)._2 == """{"text":"*01_step.sql* ERROR: boom"}""")
    // unknown channel: dropped, never thrown (alerting must not fail a run)
    sink.raiseHook(MetaData(hook = Some(HookConf(hookType = "slack",
      channel = Some("nope"), verbosity = Set("all")))), "s", Notice("E", "m"))
    assert(sent.size == 2)
    // neither section configured → no sink at all
    assert(Webhooks.fromIni(Map.empty).isEmpty)
  }

  test("hook with raise-only verbosity posts nothing for resultsets") {
    Tables.registerAll(spark, fixtures)
    val posts = scala.collection.mutable.Buffer.empty[(String, String, String)]
    val dir = mkPacket("test_hook2", Map(
      "01_step.sql" -> "SELECT 1 AS x;",
      "meta_data.json" -> """{"hook": {"channel": "c", "verbosity": ["raise"]}}"""))
    new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      hookSink = Some(HookSink.buffering(posts)))).run(dir)
    assert(posts.isEmpty)
  }

  test("failing step posts to the hook channel under raise verbosity") {
    Tables.registerAll(spark, fixtures)
    val posts = scala.collection.mutable.Buffer.empty[(String, String, String)]
    val dir = mkPacket("test_raise_hook", Map(
      "01_step.sql" -> "SELECT * FROM no_such_table_anywhere;",
      "meta_data.json" -> """{"hook": {"channel": "alerts", "verbosity": ["raise"]}}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      hookSink = Some(HookSink.buffering(posts)))).run(dir)
    assert(res.resultCode("spark") == "fail")
    assert(posts.size == 1)
    assert(posts.head._3.contains("EXCEPTION"))
  }

  test("python step runs a registered Scala callback with engine context") {
    Tables.registerAll(spark, fixtures)
    ScalaSteps.register("test_py_step", "02_step.py") { ctx =>
      // the reference's py step imports a data file and reports on it
      // (packets/test_py_step/02_step.py); here: count a fixture table
      val n = ctx.spark.table("region").count()
      ctx.results += ResultSet(Seq("n_regions"), Seq(Seq(n)))
      ctx.notice("NOTICE", s"py step saw $n regions")
    }
    val dir = mkPacket("test_py_step", Map(
      "01_step.sql" -> "SELECT 1 AS ok;",
      "02_step.py" -> "# placeholder body: execution is the registered callback",
      "meta_data.json" -> """{"type": "default"}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString)).run(dir)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(res.resultData("spark")("02_step.py").head.rows.head.head == 5L)
    assert(res.notices.exists(_.message.contains("py step saw 5 regions")))
  }

  test("PL/pgSQL DO-block port raises its finding on the notice channel") {
    // alert_int4_capacity's `raise notice '%', format(...)` twin: the
    // driver-side Scala loop (queries.CatalogQueries.alertInt4Capacity)
    // runs inside a step callback and RAISEs through ctx.notice, exactly
    // the Notice-channel mapping SURVEY §2.2 prescribes
    Tables.registerAll(spark, fixtures)
    ScalaSteps.register("alert_int4_capacity", "01_step.py") { ctx =>
      graft.queries.CatalogQueries
        .alertInt4Capacity(ctx.spark, fixtures, threshold = 0.0)
        .collect().foreach { r =>
          ctx.notice("NOTICE",
            s"tbl = ${r.getString(0)} pk = ${r.getString(1)} " +
              s"type = ${r.getString(2)} current_value = ${r.getLong(3)} " +
              s"capacity = ${r.getDouble(4)}")
        }
    }
    val dir = mkPacket("alert_int4_capacity", Map(
      "01_step.py" -> "# body is the registered Scala callback",
      "meta_data.json" -> """{"type": "read_only"}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString)).run(dir)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(res.notices.exists(n => n.severity == "NOTICE" &&
      n.message.contains("tbl = public.lineitem pk = l_linenumber type = int4")),
      res.notices.mkString("; "))
  }

  test("autovacuum DO-block raise reaches the hook under raise verbosity") {
    // alert_check_autovacuum's meta wires hook verbosity "raise": the
    // DO-block's `raise exception 'autovacuum_enabled=false…'` must land on
    // the hook channel (reference meta_data.json + 01_step.sql:8-14)
    Tables.registerAll(spark, fixtures)
    val posts = scala.collection.mutable.Buffer.empty[(String, String, String)]
    ScalaSteps.register("alert_check_autovacuum", "01_step.py") { ctx =>
      graft.queries.CatalogQueries.alertCheckAutovacuum(ctx.spark)
        .collect().foreach { r =>
          throw new IllegalStateException(r.getString(0)) // the raise
        }
    }
    val dir = mkPacket("alert_check_autovacuum", Map(
      "01_step.py" -> "# body is the registered Scala callback",
      "meta_data.json" ->
        """{"type": "read_only",
            "hook": {"channel": "dbc-alert", "verbosity": ["raise"]}}"""))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString,
      hookSink = Some(HookSink.buffering(posts)))).run(dir)
    assert(res.resultCode("spark") == "fail")
    assert(posts.size == 1)
    assert(posts.head._1 == "dbc-alert")
    assert(posts.head._3.contains("autovacuum_enabled=false on some tables!"),
      posts.head._3)
    assert(posts.head._3.contains("analytics.documents,analytics.events"))
  }

  test("python step without a registered callback fails the step") {
    Tables.registerAll(spark, fixtures)
    val dir = mkPacket("test_py_missing", Map(
      "01_step.py" -> "# no callback registered"))
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-st").toString)).run(dir)
    assert(res.resultCode("spark") == "fail")
    assert(res.packetStatus("spark") == "exception")
  }
}
