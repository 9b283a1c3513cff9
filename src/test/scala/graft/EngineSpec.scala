package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.engine._
import graft.sources.Tables

/** End-to-end engine tests mirroring the reference's behavioral suite
  * (tests/test_packets.py): packet runs with status assertions, idempotent
  * resume (re-run executes zero new actions), wipe → full re-run, hash
  * drift guard, cooperative locks, generator fan-out counts.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  val fixtures = "/root/testdata/sf0.001"

  private def tmpState(): String =
    Files.createTempDirectory("graft-state").toString

  private def runner(state: String, force: Boolean = false): PacketRunner =
    new PacketRunner(spark, RunnerConf(stateDir = state, force = force))

  private def copyPacket(src: String): String = {
    val dst = Files.createTempDirectory("graft-packet").resolve(
      java.nio.file.Paths.get(src).getFileName)
    Files.createDirectories(dst)
    Files.list(java.nio.file.Paths.get(src)).forEach { f =>
      Files.copy(f, dst.resolve(f.getFileName))
    }
    dst.toString
  }

  test("test_common runs to success with the expected fan-out") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val res = runner(state).run("packets/test_common")
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(res.packetStatus("spark") == "done")
    // step 02: 10 grid rows; step 03: 3 nsp rows; step 04: 3x3; 01/05: 1 each
    val done = res.stepResults("spark")
    assert(done("02_step.sql") == StepOutcome.Done(10), done.toString)
    assert(done("03_step.sql") == StepOutcome.Done(3))
    assert(done("04_step.sql") == StepOutcome.Done(9))
    // fan-out substitution visible in captured resultsets (last action wins)
    val rs = res.resultData("spark")("04_step.sql").head
    assert(rs.columns == Seq("combo"))
    // UNION (distinct) generator order is engine-defined; only the shape
    // of the substituted value is stable
    assert(rs.rows.head.head.toString.matches("nsp_[def]\\.tbl_[abc]"))
    // tracker recorded every action
    val tracker = new ActionTracker(spark, state)
    assert(tracker.actions.count() == 1L + 10 + 3 + 9 + 1)
  }

  test("re-run is idempotent: zero new actions; wipe forces full re-run") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    runner(state).run("packets/test_common")
    val tracker = new ActionTracker(spark, state)
    val n1 = tracker.actions.count()
    val res2 = runner(state).run("packets/test_common")
    assert(res2.resultCode("spark") == "success")
    assert(res2.stepResults("spark")("02_step.sql") == StepOutcome.Done(0))
    assert(tracker.actions.count() == n1, "re-run must execute zero new actions")
    assert(tracker.wipePacket("test_common"))
    assert(tracker.actions.count() == 0)
    runner(state).run("packets/test_common")
    assert(tracker.actions.count() == n1, "wipe → run must re-execute all")
  }

  test("hash drift guard refuses a modified packet unless forced") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val dir = copyPacket("packets/test_common")
    runner(state).run(dir)
    // edit a step: hash changes
    val step = java.nio.file.Paths.get(dir, "05_step.sql")
    Files.writeString(step, "SELECT 2 AS post_check;\n")
    val res = runner(state).run(dir)
    assert(res.resultCode("spark") == "fail")
    assert(res.notices.exists(_.message.contains("hash")))
    val forced = runner(state, force = true).run(dir)
    assert(forced.resultCode("spark") == "success")
  }

  test("locked packet is not executed") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val tracker = new ActionTracker(spark, state)
    tracker.initTables()
    tracker.setPacketLock("test_common")
    val res = runner(state).run("packets/test_common")
    assert(res.resultCode("spark") == "locked")
    assert(tracker.actions.count() == 0)
    tracker.setPacketUnlock("test_common")
    assert(runner(state).run("packets/test_common").resultCode("spark") == "success")
  }

  test("packet status reflects the last run") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    runner(state).run("packets/test_common")
    val tracker = new ActionTracker(spark, state)
    val st = tracker.packetStatus("test_common")
    assert(st.map(_.status).contains("done"))
    assert(st.exists(_.hash.nonEmpty))
  }

  test("e01 packet: generator fan-out writes per-region counts") {
    Tables.registerAll(spark, fixtures)
    val res = new PacketRunner(spark,
      RunnerConf(stateDir = tmpState(), placeholders = Map(
        "out_loc" -> Files.createTempDirectory("graft-e01").toString)))
      .run("packets/e01_packet_run")
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    val out = spark.sql("SELECT r_name, n_count FROM e01_out ORDER BY r_name")
    assert(out.count() == 5)
    assert(out.agg(org.apache.spark.sql.functions.sum("n_count"))
      .head().getLong(0) == 25L)
  }

  test("int4→int8 migration widens the id column with idempotent batches") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    def conf = RunnerConf(stateDir = state, placeholders = Map(
      "bk_grain" -> "1000",
      "mig_src" -> Files.createTempDirectory("graft-mig-src").toString,
      "mig_dst" -> Files.createTempDirectory("graft-mig-dst").toString,
      "mig_catch" -> Files.createTempDirectory("graft-mig-catch").toString))
    val c1 = conf
    val res = new PacketRunner(spark, c1).run("packets/test_int4_to_int8")
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    // id widened int → bigint, contents preserved
    assert(spark.table("test_tbl").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    val src = Tables.load(spark, fixtures, "orders")
    assert(spark.table("test_tbl").count() == src.count())
    // validation step saw zero null ids and no duplicate ids
    val v = res.resultData("spark")("05_step.sql").head
    assert(v.columns ==
      Seq("src_rows", "dst_rows", "null_ids", "dst_ids", "validation"))
    assert(v.rows.head(2) == 0L)
    assert(v.rows.head(1) == v.rows.head(3), "duplicate ids after catch-up")
    assert(v.rows.head(4) == "ok")
    // batched fan-out: one action per 1000-id grid slot
    val batches = res.stepResults("spark")("02_step.sql")
      .asInstanceOf[StepOutcome.Done].rows
    assert(batches >= 2, s"expected a multi-batch fan-out, got $batches")
    // re-run with the SAME tracker state (fresh placeholders would retarget
    // the tables, but every action hash is unchanged) → zero new actions
    val tracker = new ActionTracker(spark, state)
    val n1 = tracker.actions.count()
    val res2 = new PacketRunner(spark, c1).run("packets/test_int4_to_int8")
    assert(res2.resultCode("spark") == "success")
    assert(tracker.actions.count() == n1)
  }

  test("int4→int8 validation FAILS the packet before the swap when the " +
      "widened table holds a duplicate id") {
    // the 05 validation step must raise (not just report) on a corrupt
    // widened table — a double-applied catch-up would look exactly like
    // this planted duplicate — so the 06 swap never publishes it
    Tables.registerAll(spark, fixtures)
    val dir = copyPacket("packets/test_int4_to_int8")
    Files.writeString(java.nio.file.Paths.get(dir, "04b_step.sql"),
      // plant a duplicate id between catch-up and validation
      """INSERT INTO test_tbl_new
        |SELECT CAST(min(id) AS BIGINT) AS id, 'dup' AS val, 0 AS bk
        |FROM test_tbl;""".stripMargin)
    val conf = RunnerConf(stateDir = tmpState(), placeholders = Map(
      "bk_grain" -> "1000",
      "mig_src" -> Files.createTempDirectory("graft-migf-src").toString,
      "mig_dst" -> Files.createTempDirectory("graft-migf-dst").toString,
      "mig_catch" -> Files.createTempDirectory("graft-migf-catch").toString))
    val res = new PacketRunner(spark, conf).run(dir)
    assert(res.resultCode("spark") == "fail")
    res.stepResults("spark").get("05_step.sql") match {
      case Some(StepOutcome.Failed(err)) =>
        assert(err.contains("w01 validation failed"), err)
      case other => fail(s"expected the validation step to fail, got $other")
    }
    // the swap never ran: the original narrow table is still published
    assert(spark.table("test_tbl").schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType,
      "06_step must not swap after a failed validation")
  }

  test("int4→int8 migration under concurrent writes: capture + catch-up " +
      "lands every concurrently inserted row (TestDBCInt4ToInt8 parity)") {
    // the reference runs the migration WHILE a writer inserts
    // (test_packets.py:500-544); its trigger keeps id_new current for
    // mid-run arrivals — the parquet twin is the 03/04 snapshot-diff
    // capture + partition-scoped catch-up. A python barrier step between
    // the backfill and the capture joins the writer thread, so the capture
    // deterministically sees every concurrent insert.
    Tables.registerAll(spark, fixtures)
    val dir = copyPacket("packets/test_int4_to_int8")
    Files.writeString(java.nio.file.Paths.get(dir, "025_step.py"),
      "# barrier: join the concurrent writer, then add post-backfill rows")
    spark.sql("DROP TABLE IF EXISTS test_tbl") // writer must see THIS run's table
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      // append 50 rows interleaved with the backfill batches, starting as
      // soon as run_once has created the source table (reference
      // emulate_workload inserts on a 10 ms cadence mid-run)
      while (!spark.catalog.tableExists("test_tbl")) Thread.sleep(20)
      (1 to 5).foreach { k =>
        val rows = (0 until 10).map { i =>
          val id = 10000 + k * 10 + i
          s"($id, 'w$k$i', CAST(${id / 1000} AS INT))"
        }
        spark.sql(s"INSERT INTO test_tbl VALUES ${rows.mkString(",")}")
        Thread.sleep(100)
      }
      writerDone.set(true)
    })
    // the barrier runs between the 02 backfill and the 03 capture: join the
    // racing writer (its rows land via backfill OR catch-up depending on
    // timing), then insert rows that are DETERMINISTICALLY post-backfill —
    // only the capture + catch-up pass can land those
    ScalaSteps.register("test_int4_to_int8", "025_step.py") { _ =>
      writer.join(60000)
      require(writerDone.get(), "concurrent writer did not finish")
      val late = (0 until 10).map(i =>
        s"(${50000 + i}, 'late$i', CAST(50 AS INT))")
      spark.sql(s"INSERT INTO test_tbl VALUES ${late.mkString(",")}")
    }
    writer.start()
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = tmpState(), placeholders = Map(
        "bk_grain" -> "1000",
        "mig_src" -> Files.createTempDirectory("graft-migc-src").toString,
        "mig_dst" -> Files.createTempDirectory("graft-migc-dst").toString,
        "mig_catch" -> Files.createTempDirectory("graft-migc-catch").toString)))
      .run(dir)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    // final table = source ∪ concurrent inserts ∪ late inserts, once each
    import org.apache.spark.sql.functions.col
    val got = spark.table("test_tbl").select(col("id").cast("long"))
      .collect().map(_.getLong(0)).sorted
    val srcIds = Tables.load(spark, fixtures, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val writerIds = (1 to 5).flatMap(k => (0 until 10).map(i =>
      10000L + k * 10 + i))
    val lateIds = (0 until 10).map(i => 50000L + i)
    val want = (srcIds ++ writerIds ++ lateIds).sorted
    assert(got.length == want.length,
      s"expected ${want.length} rows, got ${got.length}")
    assert(java.util.Arrays.equals(got, want.toArray),
      "final table is not source ∪ concurrent inserts")
    // the late rows prove the capture + catch-up path end-to-end: their
    // partition (bk=50) was never in the backfill grid
    assert(spark.table("test_tbl").filter(col("val").startsWith("late"))
      .count() == 10)
    // id column is widened on the survivors too
    assert(spark.table("test_tbl").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("delete packet removes the filtered rows via rewrite + manifest " +
      "publish") {
    Tables.registerAll(spark, fixtures)
    ManifestTable.ensurePacketPublishSteps()
    val pub = Files.createTempDirectory("graft-del-pub").toString
    val res = new PacketRunner(spark, RunnerConf(
      stateDir = tmpState(), placeholders = Map(
        "del_src" -> Files.createTempDirectory("graft-del-src").toString,
        "del_dst" -> Files.createTempDirectory("graft-del-dst").toString,
        "del_pub" -> pub)))
      .run("packets/test_delete")
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(spark.table("del_tbl").count() == 20) // 25 nations - 5 in region 2
    assert(spark.table("del_tbl")
      .filter(org.apache.spark.sql.functions.col("n_regionkey") === 2)
      .count() == 0)
    // the cross-session reader path resolves the same rows via the pointer
    assert(ManifestTable.read(spark, pub).count() == 20)
  }

  test("manifest publish is atomic: a reader racing republishes sees a " +
      "complete old or new version, never a mix or a missing table") {
    val root = Files.createTempDirectory("graft-manifest").toString
    import spark.implicits._
    def version(v: Int) = (1 to 50).map(i => (v.toLong, i.toLong)).toDF("v", "i")
    ManifestTable.publish(spark, root, version(0))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        // a single scan may legitimately lose its version to the keep-2
        // GC horizon if TWO publishes complete inside it (the documented
        // snapshot-expiry contract) — so a failed scan gets ONE fresh
        // resolve+retry, exactly like an Iceberg reader. A TORN read
        // (mixed versions / partial rows in a SUCCESSFUL scan) is never
        // excused: that is the atomicity claim under test.
        def scan(): Option[Array[(Long, Long)]] =
          try Some(ManifestTable.read(spark, root).as[(Long, Long)].collect())
          catch { case _: Throwable => None }
        scan().orElse(scan()) match {
          case Some(rows) =>
            val vs = rows.map(_._1).distinct
            if (rows.length != 50 || vs.length != 1)
              bad.compareAndSet(null,
                s"torn read: ${rows.length} rows, versions ${vs.toSeq}")
            reads.incrementAndGet()
          case None =>
            bad.compareAndSet(null, "reader failed twice in a row")
        }
      }
    })
    reader.start()
    for (v <- 1 to 6) ManifestTable.publish(spark, root, version(v))
    stop.set(true)
    reader.join(60000)
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(reads.get() > 0, "reader never completed a read")
    // keep-2 GC: only the current and previous version dirs remain
    val dirs = new java.io.File(root).listFiles
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 2, dirs.toSeq)
    assert(ManifestTable.read(spark, root)
      .as[(Long, Long)].collect().forall(_._1 == 6L))
  }

  test("partitioned manifest: a reader racing partition republishes " +
      "sees each partition complete — old or new version, never a torn " +
      "mix — and untouched partitions stay bit-stable") {
    val root = Files.createTempDirectory("graft-pmanifest").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    // two partitions; bk=1 will be republished 6 times, bk=0 never
    def part(bk: Int, v: Int) =
      (1 to 40).map(i => (v.toLong, i.toLong, bk)).toDF("v", "i", "bk")
    PartitionedManifest.seed(spark, root,
      part(0, 0).unionByName(part(1, 0)), "bk")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        // per-partition atomicity contract: within one PARTITION the
        // scan is a complete version (one v value, all 40 rows); the
        // GC-horizon retry rule is the whole-table test's, with one
        // extra attempt — 6 back-to-back sub-second republishes can
        // outrun two consecutive resolves, which is horizon loss (a
        // fresh resolve fixes it), never a torn read (still fatal)
        def scan(): Option[Map[Int, Seq[Long]]] =
          try Some(PartitionedManifest.read(spark, root, "bk", "int")
            .as[(Long, Long, Int)].collect().toSeq
            .groupBy(_._3).view.mapValues(_.map(_._1).distinct.sorted).toMap)
          catch { case _: Throwable => None }
        scan().orElse(scan()).orElse(scan()) match {
          case Some(byPart) =>
            if (byPart.keySet != Set(0, 1))
              bad.compareAndSet(null, s"partitions ${byPart.keySet}")
            else {
              if (byPart(0) != Seq(0L))
                bad.compareAndSet(null, s"bk=0 drifted: ${byPart(0)}")
              if (byPart(1).length != 1)
                bad.compareAndSet(null, s"torn bk=1: versions ${byPart(1)}")
            }
            reads.incrementAndGet()
          case None =>
            bad.compareAndSet(null, "reader failed three times in a row")
        }
      }
    })
    reader.start()
    for (v <- 1 to 6) {
      PartitionedManifest.publishPartition(spark, root, "bk", "1",
        part(1, v).drop("bk"))
      Thread.sleep(50) // give in-flight scans a chance inside the horizon
    }
    stop.set(true)
    reader.join(60000)
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(reads.get() > 0, "reader never completed a read")
    // keep-2 GC per partition root; untouched partition still on v1
    assert(graft.engine.ManifestTable.currentVersion(s"$root/bk=0")
      .get.startsWith("v000001"))
    val v1dirs = new java.io.File(s"$root/bk=1").listFiles
      .filter(_.isDirectory).map(_.getName)
    assert(v1dirs.length == 2, v1dirs.toSeq)
    val finalRead = PartitionedManifest.read(spark, root, "bk", "int")
      .filter($"bk" === 1).select($"v").distinct().as[Long].collect()
    assert(finalRead.toSeq == Seq(6L))
  }

  test("snapshot commit: a reader racing multi-partition commits sees " +
      "EVERY partition at one commit (cross-partition consistency), and " +
      "the previous snapshot stays time-travel readable") {
    val root = Files.createTempDirectory("graft-snap").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    def part(v: Int) = (1 to 20).map(i => (v.toLong, i.toLong)).toDF("v", "i")
    PartitionedManifest.seed(spark, root,
      part(0).withColumn("bk",
          org.apache.spark.sql.functions.lit(0))
        .unionByName(part(0).withColumn("bk",
          org.apache.spark.sql.functions.lit(1))), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map.empty) // gen-1 snapshot adopts the seeded pointers
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        // EVERY commit updates BOTH partitions with the same v: a
        // consistent read returns exactly one v across the whole table.
        // Per-partition pointers can legitimately interleave mid-commit;
        // the SNAPSHOT read must never show that (the claim under test).
        // GC-horizon losses get the usual fresh-resolve retries.
        def scan(): Option[Seq[Long]] =
          try Some(PartitionedManifest
            .readSnapshot(spark, root, "bk", "int")
            .select($"v").distinct().as[Long].collect().toSeq.sorted)
          catch { case _: Throwable => None }
        scan().orElse(scan()).orElse(scan()) match {
          case Some(vs) =>
            if (vs.length != 1)
              bad.compareAndSet(null, s"torn snapshot: versions $vs")
            reads.incrementAndGet()
          case None =>
            bad.compareAndSet(null, "reader failed three times in a row")
        }
      }
    })
    reader.start()
    for (v <- 1 to 5) {
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> part(v).drop("bk"), "1" -> part(v).drop("bk")))
      Thread.sleep(50)
    }
    stop.set(true)
    reader.join(60000)
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(reads.get() > 0, "reader never completed a read")
    // time travel: the previous commit is still fully readable
    val snaps = PartitionedManifest.snapshots(spark, root)
    assert(snaps.length == 2, snaps)
    val prev = PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(snaps.head)).select($"v").distinct().as[Long].collect()
    val cur = PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(snaps.last)).select($"v").distinct().as[Long].collect()
    assert(prev.toSeq == Seq(4L), s"previous snapshot: ${prev.toSeq}")
    assert(cur.toSeq == Seq(5L), s"current snapshot: ${cur.toSeq}")
  }

  test("manifest publish is single-writer: a live lock fails loudly, a " +
      "stale lock from a crashed publisher is broken") {
    val root = Files.createTempDirectory("graft-manifest-lock").toString
    import spark.implicits._
    val df = Seq((1L, 1L)).toDF("v", "i")
    ManifestTable.publish(spark, root, df)
    // simulate a live concurrent publisher
    val lock = java.nio.file.Paths.get(root, ".PUBLISH_LOCK")
    Files.createFile(lock)
    val ex = intercept[ManifestTable.ConcurrentPublishException] {
      ManifestTable.publish(spark, root, df)
    }
    assert(ex.getMessage.contains("single-writer"))
    // a crashed publisher's lock (idle > 10 min) is broken and publish wins
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 11 * 60 * 1000L))
    ManifestTable.publish(spark, root, df)
    assert(!Files.exists(lock), "lock must be released after publish")
    assert(ManifestTable.read(spark, root).count() == 1)
  }

  test("failing step records exception status and stops") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val dir = copyPacket("packets/test_common")
    Files.writeString(java.nio.file.Paths.get(dir, "03_step.sql"),
      "SELECT * FROM table_that_does_not_exist;\n")
    val res = runner(state).run(dir)
    assert(res.resultCode("spark") == "fail")
    assert(res.packetStatus("spark") == "exception")
    // earlier steps executed, later ones did not
    val outcomes = res.stepResults("spark")
    assert(outcomes("02_step.sql") == StepOutcome.Done(10))
    assert(!outcomes.contains("04_step.sql"))
    val tracker = new ActionTracker(spark, state)
    val st = tracker.packetStatus("test_common")
    assert(st.map(_.status).contains("exception"))
  }

  test("skip-step-cancel records the skip and continues with later steps") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val dir = copyPacket("packets/test_common")
    Files.writeString(java.nio.file.Paths.get(dir, "03_step.sql"),
      "SELECT * FROM table_that_does_not_exist;\n")
    val res = new PacketRunner(spark, RunnerConf(stateDir = state,
      skipStepCancel = true)).run(dir)
    // reference semantics: the run completes but errors_count > 0 makes it
    // EXCEPTION/FAIL (test_packets.py:292-331, dbccore.py:585-597)
    assert(res.resultCode("spark") == "fail")
    assert(res.packetStatus("spark") == "exception")
    val outcomes = res.stepResults("spark")
    assert(outcomes("03_step.sql") == StepOutcome.Skipped("skip_step"))
    assert(outcomes("04_step.sql") == StepOutcome.Done(9))
  }

  test("skip-action-cancel skips the failing action, continues the fan-out, " +
      "and a re-run retries it") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val dir = copyPacket("packets/test_common")
    // one of the ten grid actions fails (GEN_OBJ_FLD_1 = 50), the rest run
    Files.writeString(java.nio.file.Paths.get(dir, "02_step.sql"),
      "SELECT assert_true(GEN_OBJ_FLD_1 <> 50) AS ok;\n")
    val res = new PacketRunner(spark, RunnerConf(stateDir = state,
      skipActionCancel = true)).run(dir)
    // reference: EXCEPTION/FAIL at run end (test_packets.py:335-373), but
    // the fan-out continued past the failure and later steps all ran
    assert(res.resultCode("spark") == "fail")
    assert(res.packetStatus("spark") == "exception")
    val outcomes = res.stepResults("spark")
    assert(outcomes("02_step.sql") == StepOutcome.Done(9), outcomes.toString)
    assert(outcomes("03_step.sql") == StepOutcome.Done(3))
    assert(outcomes("04_step.sql") == StepOutcome.Done(9))
    assert(res.notices.exists(n =>
      n.severity == "ERROR" && n.message.contains("skipped")))
    // the skipped action was never applied to the tracker...
    val tracker = new ActionTracker(spark, state)
    val n1 = tracker.actions.count()
    assert(n1 == 1L + 9 + 3 + 9 + 1, s"applied actions: $n1")
    // ...so a re-run retries exactly that action (and only it), fails the
    // same way, and still applies nothing new
    val res2 = new PacketRunner(spark, RunnerConf(stateDir = state,
      skipActionCancel = true)).run(dir)
    assert(res2.resultCode("spark") == "fail")
    assert(res2.stepResults("spark")("02_step.sql") == StepOutcome.Done(0))
    assert(new ActionTracker(spark, state).actions.count() == n1)
  }

  test("merge packet rewrites only delta-touched partitions") {
    Tables.registerAll(spark, fixtures)
    graft.engine.PartitionedManifest.ensurePacketPublishSteps()
    val src = Files.createTempDirectory("graft-mrg-src").toString
    val conf = RunnerConf(
      stateDir = tmpState(),
      placeholders = Map(
        "mrg_src" -> src,
        "mrg_delta" -> Files.createTempDirectory("graft-mrg-delta").toString,
        "mrg_stage" -> Files.createTempDirectory("graft-mrg-stage").toString))
    val (res, freshJobs) = JobCount.of(spark)(
      new PacketRunner(spark, conf).run("packets/test_merge"))
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    // job-count gate: a resumed run skips every action, so what is left
    // is generator and tracker work. Schema reads are driver-side and
    // the two identical generators are collected once per run.
    val (resumed, resumeJobs) = JobCount.of(spark)(
      new PacketRunner(spark, conf).run("packets/test_merge"))
    assert(resumed.resultCode("spark") == "success",
      resumed.notices.mkString("; "))
    assert((freshJobs, resumeJobs) == ((22, 4)),
      s"test_merge jobs: fresh $freshJobs, resumed $resumeJobs")
    // every Spark write job stamps its part files with one job UUID
    // (part-00000-<uuid>…): untouched partitions must still carry the SEED
    // job's uuid in their CURRENT manifest version, while delta partitions
    // carry a different (publish) uuid
    def jobUuids(bk: Int): Set[String] = {
      val cur = ManifestTable.currentDataDir(s"$src/bk=$bk")
        .getOrElse(fail(s"no MANIFEST for bk=$bk"))
      new java.io.File(cur).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getName.split("-", 3)(2)).toSet
    }
    val seedUuids = jobUuids(5)
    assert(seedUuids.nonEmpty && jobUuids(7) == seedUuids,
      "untouched partitions must keep the seed write's files")
    assert((jobUuids(0) intersect seedUuids).isEmpty,
      "updated partition bk=0 must be rewritten by a different write job")
    assert((jobUuids(1) intersect seedUuids).isEmpty,
      "insert partition bk=1 must be rewritten by a different write job")
    // untouched partitions are still on their SEED version (v1 — never
    // republished), touched partitions moved past it
    def gen(bk: Int): Int = ManifestTable.currentVersion(s"$src/bk=$bk")
      .get.drop(1).takeWhile(_.isDigit).toInt
    assert(gen(5) == 1 && gen(7) == 1)
    assert(gen(0) > 1 && gen(1) > 1)
    // and the merge outcome is visible: updates marked, inserts landed
    import org.apache.spark.sql.functions._
    val t = spark.table("mrg_tbl")
    assert(t.filter(col("c_name").endsWith(" (upd)")).count() > 0)
    assert(t.filter(col("c_custkey") > 1000000).count() > 0)
    // every updated key exists exactly once (no dup from union)
    assert(t.groupBy("c_custkey").count().filter(col("count") > 1).count() == 0)
  }

  test("fixture registration matches table names as whole words: the " +
      "migration packet registers only orders") {
    val pl = Map("bk_grain" -> "100", "mig_src" -> "/tmp/s",
      "mig_dst" -> "/tmp/d", "mig_catch" -> "/tmp/c")
    // its text says PARTITIONED and partition, never the table `part`
    assert(Engine.fixtureTables("packets/test_int4_to_int8", pl) ==
      ((Some(Seq("orders")), false)))
    // an unresolved placeholder may hide a table name: register all
    assert(Engine.fixtureTables("packets/test_int4_to_int8", Map.empty)._1
      .isEmpty)
  }

  test("read_only packet rejects writes and tracks nothing") {
    Tables.registerAll(spark, fixtures)
    val state = tmpState()
    val dir = Files.createTempDirectory("graft-ro").resolve("ro_packet")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("01_step.sql"),
      "SELECT count(*) AS n FROM region;\n")
    Files.writeString(dir.resolve("meta_data.json"), """{"type": "read_only"}""")
    val res = runner(state).run(dir.toString)
    assert(res.resultCode("spark") == "success")
    assert(res.resultData("spark")("01_step.sql").head.rows.head.head == 5L)
    assert(new ActionTracker(spark, state).actions.count() == 0)

    Files.writeString(dir.resolve("02_step.sql"),
      "DROP TABLE IF EXISTS should_not_run;\n")
    val res2 = runner(tmpState()).run(dir.toString)
    assert(res2.resultCode("spark") == "fail")
    assert(res2.notices.exists(_.message.contains("read-only")))
  }

  test("action WAL survives a crash before the run-end metadata persist") {
    // simulate kill -9 mid-run: actions flushed, but persistMeta/unlock
    // (the finally block) never ran — a FRESH tracker reading only disk
    // must still resolve the WAL's packet/step ids to their names, or
    // every executed action re-runs on resume
    val state = tmpState()
    val t1 = new ActionTracker(spark, state)
    t1.initTables()
    t1.beginAction("p1", "hash-p", "01_step.sql", "{}")
    t1.applyAction("p1", "01_step.sql", "action-hash-123")
    t1.flushActions()
    // no persistMeta() — the crash point
    val t2 = new ActionTracker(spark, state)
    assert(t2.executedHashes("p1", "01_step.sql") == Set("action-hash-123"))
  }

  test("no_commit dry-run analyzes writes without executing; bad SQL fails") {
    Tables.registerAll(spark, fixtures)
    val dir = Files.createTempDirectory("graft-nc").resolve("nc_packet")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("01_step.sql"),
      "CREATE TABLE IF NOT EXISTS nc_should_not_exist AS SELECT 1 AS x;\n")
    Files.writeString(dir.resolve("meta_data.json"), """{"type": "no_commit"}""")
    val res = runner(tmpState()).run(dir.toString)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(res.notices.exists(_.message.contains("no_commit: skipped")))
    assert(!spark.catalog.tableExists("nc_should_not_exist"),
      "dry-run executed the write")
    // the dry-run must still CATCH analysis errors (reference runs the
    // statement and rolls back, so a missing table fails validation)
    Files.writeString(dir.resolve("02_step.sql"),
      "INSERT INTO no_such_table_xyz SELECT 1;\n")
    val res2 = runner(tmpState()).run(dir.toString)
    assert(res2.resultCode("spark") == "fail")
  }

  test("pretty table printer aligns columns like the reference") {
    val rs = ResultSet(Seq("name", "n"), Seq(Seq("alpha", 1L), Seq("b", 22L)))
    val out = ResultRenderer.printTable(rs)
    val lines = out.split("\n")
    assert(lines(0) == "| name  | n  |")
    assert(lines(1) == "-" * lines(0).length)
    assert(lines(2) == "| alpha | 1  |")
    assert(lines(3) == "| b     | 22 |")
  }

  test("session preparation applies per-packet spark conf overrides " +
      "during the run and restores them after") {
    Tables.registerAll(spark, fixtures)
    val dir = Files.createTempDirectory("graft-sess").resolve("sess_packet")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("01_step.py"),
      "# callback observes the conf mid-run")
    Files.writeString(dir.resolve("meta_data.json"),
      """{"type": "default",
         "spark": {"spark.sql.shuffle.partitions": "7"}}""")
    var seenDuringRun = ""
    ScalaSteps.register("sess_packet", "01_step.py") { ctx =>
      seenDuringRun = ctx.spark.conf.get("spark.sql.shuffle.partitions")
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val res = runner(tmpState()).run(dir.toString)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(seenDuringRun == "7")
    // the reference's SETs die with the connection: a shared session must
    // not keep packet-local conf after the run
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("maintenance statements route through the non-tx path with a notice") {
    Tables.registerAll(spark, fixtures)
    val dir = Files.createTempDirectory("graft-maint").resolve("maint_packet")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("01_step.sql"),
      "REFRESH TABLE region;\nSELECT count(*) AS n FROM region;")
    Files.writeString(dir.resolve("meta_data.json"), """{"type": "maintenance"}""")
    val res = runner(tmpState()).run(dir.toString)
    assert(res.resultCode("spark") == "success", res.notices.mkString("; "))
    assert(res.notices.exists(n => n.message.contains("maintenance statement")))
    assert(res.resultData("spark")("01_step.sql").head.rows.head.head == 5L)
  }

  test("user placeholders substitute into steps and generators") {
    Tables.registerAll(spark, fixtures)
    val dir = Files.createTempDirectory("graft-pl").resolve("pl_packet")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("01_step.sql"),
      "SELECT 'DBC_PL_user_name' AS who, DBC_PL_user_id AS uid;\n")
    val res = new PacketRunner(spark, RunnerConf(stateDir = tmpState(),
      placeholders = Map("user_name" -> "alice", "user_id" -> "42")))
      .run(dir.toString)
    assert(res.resultCode("spark") == "success")
    val rs = res.resultData("spark")("01_step.sql").head
    assert(rs.rows.head == Seq("alice", 42))
  }

  test("add-column validation FAILS the packet before the swap when the " +
      "backfill leaves a NULL band") {
    // same fail-loud contract as the w01 migration: the 02 validation
    // step must raise on a corrupt widened table so the 03 publish never
    // runs
    Tables.registerAll(spark, fixtures)
    ManifestTable.ensurePacketPublishSteps()
    val dir = copyPacket("packets/test_add_column")
    Files.writeString(java.nio.file.Paths.get(dir, "01b_step.sql"),
      """INSERT INTO evo_tbl_new
        |SELECT CAST(1000000 AS BIGINT), 'planted', CAST(0 AS BIGINT),
        |  CAST(0.0 AS DOUBLE), CAST(NULL AS STRING);""".stripMargin)
    val conf = RunnerConf(stateDir = tmpState(), placeholders = Map(
      "evo_src" -> Files.createTempDirectory("graft-evof-src").toString,
      "evo_dst" -> Files.createTempDirectory("graft-evof-dst").toString,
      "evo_pub" -> Files.createTempDirectory("graft-evof-pub").toString))
    val res = new PacketRunner(spark, conf).run(dir)
    assert(res.resultCode("spark") == "fail")
    res.stepResults("spark").get("02_step.sql") match {
      case Some(StepOutcome.Failed(err)) =>
        assert(err.contains("add-column validation failed"), err)
      case other => fail(s"expected the validation step to fail, got $other")
    }
    // the swap never ran: the published table still lacks the new column
    assert(!spark.table("evo_tbl").columns.contains("acct_band"),
      "03_step must not swap after a failed validation")
    // drop the failed run's seed CTAS: a lingering EXTERNAL evo_tbl with
    // no temp view over it would make a LATER suite's run_once
    // `DROP VIEW IF EXISTS evo_tbl` fail with WRONG_COMMAND_FOR_OBJECT_
    // TYPE (suites share one SparkSession; catalog state must not leak
    // across them in a shape no packet leaves behind on success)
    spark.sql("DROP TABLE IF EXISTS evo_tbl")
    spark.sql("DROP TABLE IF EXISTS evo_tbl_new")
  }
  test("one-job multi-partition snapshot commit: a 16-partition delta " +
      "launches ONE write job (plus bounded metadata work), and the " +
      "committed state equals the sequential semantics") {
    val root = Files.createTempDirectory("graft-snap-1job").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val seed = (0 until 16).flatMap(b => (1 to 10).map(i =>
      (0L, (b * 100 + i).toLong, b))).toDF("v", "i", "bk")
    PartitionedManifest.seed(spark, root, seed, "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val updates = (0 until 16).map(b => b.toString ->
      (1 to 10).map(i => (1L, (b * 100 + i).toLong)).toDF("v", "i")).toMap
    spark.sparkContext.addSparkListener(listener)
    try {
      PartitionedManifest.commitSnapshot(spark, root, "bk", updates)
      Thread.sleep(500) // let queued listener events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // one partitionBy write job; anything near 16 means the commit
    // regressed to one-job-per-partition
    assert(jobs.get() <= 3, s"commit launched ${jobs.get()} jobs")
    val got = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .select($"v").distinct().as[Long].collect().toSeq
    assert(got == Seq(1L), got)
    val n = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .count()
    assert(n == 160, s"$n rows")
    // every partition advanced its own pointer too (reader-path parity)
    (0 until 16).foreach { b =>
      assert(graft.engine.ManifestTable.currentVersion(s"$root/bk=$b")
        .get.startsWith("v000002"), s"bk=$b pointer did not advance")
    }
  }

  test("manifest GC keeps the POINTER-DERIVED previous version: an " +
      "aborted publish's same-generation orphan is collected, not " +
      "mistaken for the previous version") {
    val root = Files.createTempDirectory("graft-gc-orphan").toString
    import spark.implicits._
    ManifestTable.publish(spark, root, Seq((1L, 1L)).toDF("v", "i"))
    ManifestTable.publish(spark, root, Seq((2L, 2L)).toDF("v", "i"))
    val live = ManifestTable.currentVersion(root).get // v000002-xxxx
    // a crashed publisher's orphan: same generation, lexicographically
    // LAST — the old lexicographic rule would have kept this and
    // deleted the genuine previous version
    val orphan = "v000002-zzzzzzzz"
    new java.io.File(s"$root/$orphan").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/$orphan/junk"), "partial")
    ManifestTable.publish(spark, root, Seq((3L, 3L)).toDF("v", "i"))
    val dirs = new java.io.File(root).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName).toSet
    assert(dirs.contains(live),
      s"genuine previous version $live was deleted: $dirs")
    assert(!dirs.contains(orphan), s"orphan survived GC: $dirs")
    assert(dirs.size == 2, s"keep-2 horizon violated: $dirs")
  }

  test("partition values that would corrupt SQL specs, directory names " +
      "or snapshot lines are rejected loudly") {
    val root = Files.createTempDirectory("graft-partval").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val df = Seq((1L, 1L)).toDF("v", "i")
    for (bad <- Seq("a b", "a'b", "a/b", "a\tb", "", "a`b")) {
      val ex = intercept[IllegalArgumentException] {
        PartitionedManifest.publishPartition(spark, root, "bk", bad, df)
      }
      assert(ex.getMessage.contains("unsupported partition value"),
        s"'$bad': ${ex.getMessage}")
    }
    val ex2 = intercept[IllegalArgumentException] {
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("a b" -> df))
    }
    assert(ex2.getMessage.contains("unsupported partition value"))
  }

  test("keep-N horizon: keepSnapshots=3 leaves three commits fully " +
      "readable, and version GC protects exactly the kept snapshots' " +
      "directories") {
    val root = Files.createTempDirectory("graft-keepn").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    def part(v: Int) = (1 to 5).map(i => (v.toLong, i.toLong)).toDF("v", "i")
    PartitionedManifest.seed(spark, root,
      part(0).withColumn("bk", org.apache.spark.sql.functions.lit(0))
        .unionByName(part(0).withColumn("bk",
          org.apache.spark.sql.functions.lit(1))), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty,
      keepSnapshots = 3)
    for (v <- 1 to 4)
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> part(v).drop("bk"), "1" -> part(v).drop("bk")),
        keepSnapshots = 3)
    val snaps = PartitionedManifest.snapshots(spark, root)
    assert(snaps.length == 3, snaps)
    // all three horizons readable with the right contents (2, 3, 4)
    snaps.zip(Seq(2L, 3L, 4L)).foreach { case (sn, expect) =>
      val vs = PartitionedManifest
        .readSnapshot(spark, root, "bk", "int", Some(sn))
        .select($"v").distinct().as[Long].collect().toSeq
      assert(vs == Seq(expect), s"$sn: $vs")
    }
    // each partition holds every dir the kept snapshots reference,
    // plus AT MOST the just-expired snapshot's dir: commit-time GC
    // protects ALL snapshots that were kept when it ran (collecting the
    // expiring one's dirs before the new snapshot file exists would
    // break its reads permanently if the commit aborted mid-way); the
    // lagging dir collects on the partition's next touch
    Seq(0, 1).foreach { b =>
      val dirs = new java.io.File(s"$root/bk=$b").listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
        .map(_.getName).toSet
      val referenced: Set[String] = snaps.map { sn =>
        PartitionedManifest.snapshotMapping(spark, root, sn)
          .toMap.apply(b.toString)
      }.toSet
      assert(referenced.subsetOf(dirs),
        s"bk=$b: kept snapshot dirs missing: $referenced vs $dirs")
      assert(dirs.size <= 4, s"bk=$b: ${dirs.toSeq.sorted}")
    }
  }

  test("e02 llm-ingest packet resumes idempotently: a crash between " +
      "steps re-runs ONLY the remaining stages, and the resumed result " +
      "equals the from-scratch pipeline") {
    Tables.registerAll(spark, fixtures)
    LlmIngestSteps.ensureE02Steps()
    val state = tmpState()
    val ph = Map(
      "e02_art" -> Files.createTempDirectory("e02r-art").toString,
      "e02_enc" -> Files.createTempDirectory("e02r-enc").toString,
      "e02_pack" -> Files.createTempDirectory("e02r-pack").toString,
      "e02_pub" -> Files.createTempDirectory("e02r-pub").toString)
    // poison the PACK step: the pipeline dies after train+encode
    ScalaSteps.register("e02_llm_ingest", "03_step.py") { _ =>
      sys.error("simulated crash before packing")
    }
    val res1 = new PacketRunner(spark,
      RunnerConf(stateDir = state, placeholders = ph))
      .run("packets/e02_llm_ingest")
    assert(res1.resultCode("spark") == "fail", res1.resultCode.toString)
    val tracker = new ActionTracker(spark, state)
    val n1 = tracker.actions.count()
    assert(n1 == 3, s"expected run_once + steps 01/02 tracked, got $n1")
    // restore the real steps and RESUME: completed stages must be
    // tracker-skipped (training does not re-run because packing crashed)
    LlmIngestSteps.ensureE02Steps()
    val res2 = new PacketRunner(spark,
      RunnerConf(stateDir = state, placeholders = ph))
      .run("packets/e02_llm_ingest")
    assert(res2.resultCode("spark") == "success",
      res2.notices.mkString("; "))
    val done = res2.stepResults("spark")
    assert(done("01_step.py") == StepOutcome.Done(0), done.toString)
    assert(done("02_step.py") == StepOutcome.Done(0), done.toString)
    assert(done("03_step.py") == StepOutcome.Done(1), done.toString)
    assert(done("04_step.py") == StepOutcome.Done(1), done.toString)
    // resumed output == the from-scratch pipeline on a fresh state
    import spark.implicits._
    val resumed = spark.table("e02_corpus")
      .as[(Long, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val ph2 = Map(
      "e02_art" -> Files.createTempDirectory("e02f-art").toString,
      "e02_enc" -> Files.createTempDirectory("e02f-enc").toString,
      "e02_pack" -> Files.createTempDirectory("e02f-pack").toString,
      "e02_pub" -> Files.createTempDirectory("e02f-pub").toString)
    val res3 = new PacketRunner(spark,
      RunnerConf(stateDir = tmpState(), placeholders = ph2))
      .run("packets/e02_llm_ingest")
    assert(res3.resultCode("spark") == "success")
    val fresh = spark.table("e02_corpus")
      .as[(Long, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(resumed == fresh, "resumed pipeline diverged from scratch run")
    // and a further re-run on the resumed state executes ZERO new actions
    val n2 = new ActionTracker(spark, state).actions.count()
    val res4 = new PacketRunner(spark,
      RunnerConf(stateDir = state, placeholders = ph))
      .run("packets/e02_llm_ingest")
    assert(res4.resultCode("spark") == "success")
    assert(new ActionTracker(spark, state).actions.count() == n2,
      "re-run must execute zero new actions")
  }

  test("as-of-timestamp time travel: snapshotAsOf resolves the latest " +
      "commit at or before a wall-clock instant, within the keep-N " +
      "horizon") {
    val root = Files.createTempDirectory("graft-asof").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    def part(v: Int) = (1 to 5).map(i => (v.toLong, i.toLong)).toDF("v", "i")
    PartitionedManifest.seed(spark, root,
      part(0).withColumn("bk", org.apache.spark.sql.functions.lit(0)), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty,
      keepSnapshots = 3)
    Thread.sleep(20)
    val between1 = System.currentTimeMillis()
    Thread.sleep(20)
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> part(1).drop("bk")), keepSnapshots = 3)
    Thread.sleep(20)
    val between2 = System.currentTimeMillis()
    Thread.sleep(20)
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> part(2).drop("bk")), keepSnapshots = 3)
    val snaps = PartitionedManifest.snapshots(spark, root)
    assert(snaps.length == 3)
    // every commit carries its wall clock, monotonically
    val times = snaps.map(sn =>
      PartitionedManifest.snapshotCommittedMs(spark, root, sn).get)
    assert(times == times.sorted, times.toString)
    // as-of resolution: before the first commit -> None; between
    // commits -> the earlier one; now -> the latest
    assert(PartitionedManifest.snapshotAsOf(spark, root,
      times.head - 1000).isEmpty)
    assert(PartitionedManifest.snapshotAsOf(spark, root, between1)
      .contains(snaps(0)))
    assert(PartitionedManifest.snapshotAsOf(spark, root, between2)
      .contains(snaps(1)))
    val now = PartitionedManifest.snapshotAsOf(spark, root,
      System.currentTimeMillis()).get
    assert(now == snaps(2))
    // and the resolved snapshot reads the right state
    val vs = PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      PartitionedManifest.snapshotAsOf(spark, root, between2))
      .select($"v").distinct().as[Long].collect().toSeq
    assert(vs == Seq(1L), vs)
  }

  test("a catalog table re-pinned to an OLDER snapshot stops serving " +
      "partitions born in later commits") {
    val root = Files.createTempDirectory("graft-repin").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    def part(v: Int) = (1 to 5).map(i => (v.toLong, i.toLong)).toDF("v", "i")
    PartitionedManifest.seed(spark, root,
      part(0).withColumn("bk", org.apache.spark.sql.functions.lit(0))
        .unionByName(part(0).withColumn("bk",
          org.apache.spark.sql.functions.lit(1))), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty,
      keepSnapshots = 3)
    // second commit BIRTHS partitions bk=7 AND bk=8 — re-pinning must
    // then DROP TWO specs in one ALTER (comma-separated grammar; a
    // space-joined multi-spec drop is a ParseException)
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("7" -> part(9).drop("bk"), "8" -> part(8).drop("bk")),
      keepSnapshots = 3)
    val snaps = PartitionedManifest.snapshots(spark, root)
    spark.sql("DROP TABLE IF EXISTS repin_tbl")
    PartitionedManifest.syncCatalogTableSnapshot(spark, root, "repin_tbl",
      "bk", "int", Some(snaps.last))
    assert(spark.table("repin_tbl").filter($"bk" === 7).count() == 5)
    assert(spark.table("repin_tbl").filter($"bk" === 8).count() == 5)
    // re-pin to the FIRST snapshot: bk=7/bk=8 did not exist then
    PartitionedManifest.syncCatalogTableSnapshot(spark, root, "repin_tbl",
      "bk", "int", Some(snaps.head))
    try {
      assert(spark.table("repin_tbl").filter($"bk" >= 7).count() == 0,
        "older snapshot served a later-born partition")
      val bks = spark.table("repin_tbl").select($"bk").distinct()
        .as[Int].collect().sorted.toSeq
      assert(bks == Seq(0, 1), bks.toString)
    } finally spark.sql("DROP TABLE repin_tbl")
  }

  test("publishPartition on a snapshot-managed root protects versions " +
      "the kept snapshots still reference (keep-3 horizon survives a " +
      "direct per-partition publish)") {
    val root = Files.createTempDirectory("graft-pubprotect").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    def part(v: Int) = (1 to 5).map(i => (v.toLong, i.toLong)).toDF("v", "i")
    PartitionedManifest.seed(spark, root,
      part(0).withColumn("bk", org.apache.spark.sql.functions.lit(0)), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty,
      keepSnapshots = 3)
    for (v <- 1 to 2)
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> part(v).drop("bk")), keepSnapshots = 3)
    val snaps = PartitionedManifest.snapshots(spark, root)
    assert(snaps.length == 3)
    // a DIRECT per-partition publish outside the snapshot path: its
    // keep-2 GC must not collect dirs the kept snapshots reference
    PartitionedManifest.publishPartition(spark, root, "bk", "0",
      part(9).drop("bk"))
    snaps.zip(Seq(0L, 1L, 2L)).foreach { case (sn, expect) =>
      val vs = PartitionedManifest
        .readSnapshot(spark, root, "bk", "int", Some(sn))
        .select($"v").distinct().as[Long].collect().toSeq
      assert(vs == Seq(expect), s"$sn unreadable after publish: $vs")
    }
  }

  test("compaction rewrites exactly the fragmented partitions, " +
      "preserves content, and is an idempotent no-op when re-run") {
    val root = Files.createTempDirectory("graft-compact").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val rows = (0 until 4).flatMap(b => (1 to 25).map(i =>
      ((b * 100 + i).toLong, b)))
    // seed, then fragment partitions 0 and 2 via per-partition
    // publishes of 4-file rewrites
    PartitionedManifest.seed(spark, root, rows.toDF("i", "bk"), "bk")
    Seq(0, 2).foreach { b =>
      val df = (1 to 25).map(i => (b * 100 + i).toLong).toDF("i")
        .repartition(4)
      PartitionedManifest.publishPartition(spark, root, "bk",
        b.toString, df)
    }
    Seq(0, 2).foreach(b => assert(PartitionedManifest.dataFileCount(
      spark, s"$root/bk=$b") >= 4, s"bk=$b not fragmented"))
    val (snap1, touched1) =
      PartitionedManifest.compact(spark, root, "bk", maxFiles = 1)
    assert(touched1 == Seq("0", "2"), touched1)
    (0 until 4).foreach(b => assert(PartitionedManifest.dataFileCount(
      spark, s"$root/bk=$b") == 1, s"bk=$b files after compaction"))
    // content-preserving: the compacted snapshot holds exactly the rows
    val got = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .select($"i").as[Long].collect().sorted.toSeq
    assert(got == rows.map(_._1).sorted, s"${got.size} rows")
    // nothing fragmented -> second run touches nothing, commits
    // NOTHING (no snapshot churn / keep-N trim from scheduled no-ops),
    // and the table still reads the same
    val (snap2, touched2) =
      PartitionedManifest.compact(spark, root, "bk", maxFiles = 1)
    assert(touched2.isEmpty, touched2)
    assert(snap2 == snap1, s"no-op compaction committed: $snap1 -> $snap2")
    val again = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .count()
    assert(again == rows.size.toLong, s"$again rows")
    // the SIZE gate: files at/above smallFileBytes are not
    // fragmentation — with a 1-byte threshold nothing is "small", so
    // even maxFiles=0 selects nothing (convergence for partitions
    // bigger than the write-side advisory size)
    val (_, touched3) = PartitionedManifest.compact(spark, root, "bk",
      maxFiles = 0, smallFileBytes = 1L)
    assert(touched3.isEmpty, touched3)
    // a root with no manifest counts zero files
    assert(PartitionedManifest.dataFileCount(
      spark, s"$root/bk=missing") == 0)
  }

  test("a commitSnapshot landing DURING compaction's rewrite succeeds " +
      "immediately (no lock held) and neither side loses rows: the " +
      "invalidated partition is retried against the fresh commit") {
    val root = Files.createTempDirectory("graft-compact-race").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val rows = (0 until 3).flatMap(b => (1 to 25).map(i =>
      ((b * 100 + i).toLong, b)))
    PartitionedManifest.seed(spark, root, rows.toDF("i", "bk"), "bk")
    // fragment all three partitions
    (0 until 3).foreach { b =>
      PartitionedManifest.publishPartition(spark, root, "bk", b.toString,
        (1 to 25).map(i => (b * 100 + i).toLong).toDF("i").repartition(4))
    }
    val freshRows = (9001L to 9025L).toSeq
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the race window: after compaction's rewrite job, before it
    // re-acquires the lock to validate. Under the old
    // whole-pass-under-lock design this commit would hit
    // ConcurrentPublishException (the root lock is not reentrant);
    // succeeding HERE is the proof that commit latency during a
    // compaction rewrite is lock-acquisition-bounded, not
    // rewrite-bounded.
    val (snap, touched) = PartitionedManifest.compact(spark, root, "bk",
      maxFiles = 1,
      onBeforeValidate = () => if (fired.compareAndSet(false, true)) {
        // a snapshot committer (root lock) AND a per-partition
        // publisher (partition lock) both land in the window; the
        // publisher leaves partition 1 fragmented again so the retry
        // path has real work to do
        PartitionedManifest.commitSnapshot(spark, root, "bk",
          Map("1" -> freshRows.toDF("i")))
        PartitionedManifest.publishPartition(spark, root, "bk", "1",
          freshRows.toDF("i").repartition(4))
      })
    assert(fired.get(), "race hook never fired")
    // every partition ends compacted: 0 and 2 in round one, 1 (dirty,
    // still fragmented after the concurrent commit) via the retry
    assert(touched == Seq("0", "1", "2"), touched)
    (0 until 3).foreach(b => assert(PartitionedManifest.dataFileCount(
      spark, s"$root/bk=$b") == 1, s"bk=$b files after compaction"))
    // nothing lost: partition 1 holds the CONCURRENT commit's rows
    // (compaction must never resurrect its stale read-set), partitions
    // 0 and 2 their original rows
    val got = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .select($"i", $"bk").as[(Long, Int)].collect().toSeq
    val expect = rows.filter(_._2 != 1) ++ freshRows.map((_, 1))
    assert(got.sorted == expect.sorted,
      s"${got.size} rows vs ${expect.size}")
    assert(snap == PartitionedManifest.currentSnapshot(spark, root).get)
  }

  test("a slow reader under compaction + keep-N churn either completes " +
      "or fails LOUDLY — never a silent partial read of a GC'd snapshot") {
    val root = Files.createTempDirectory("graft-gc-churn").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val rows = (0 until 3).flatMap(b => (1 to 25).map(i =>
      ((b * 100 + i).toLong, b)))
    PartitionedManifest.seed(spark, root, rows.toDF("i", "bk"), "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    // the slow reader resolves its mapping + pin NOW…
    val slow = PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(s1))
    assert(slow.count() == 75L) // …and completes within the horizon
    // churn: every partition advances repeatedly (fragment + compact),
    // each compaction commits and trims — s1 expires and its uniquely-
    // referenced dirs are collected on each partition's next touch
    for (r <- 1 to 3) {
      (0 until 3).foreach { b =>
        PartitionedManifest.publishPartition(spark, root, "bk",
          b.toString, (1 to 25).map(i => (r * 1000 + b * 100 + i).toLong)
            .toDF("i").repartition(4))
      }
      PartitionedManifest.compact(spark, root, "bk", maxFiles = 1)
    }
    assert(!PartitionedManifest.snapshots(spark, root).contains(s1),
      "churn did not expire the snapshot")
    // the horizon contract: the held DataFrame either completes with
    // the FULL snapshot (lazy GC may not have reached its dirs) or
    // fails loudly — a row count short of 75 without an error is the
    // one forbidden outcome
    try {
      val n = slow.count()
      assert(n == 75L, s"SILENT PARTIAL READ: $n of 75 rows, no error")
    } catch { case e: Exception =>
      assert(e.getMessage != null, e.toString) // loud is the contract
    }
    // re-RESOLVING the expired snapshot fails loudly too (its snapshot
    // file is trimmed)
    intercept[Exception] {
      PartitionedManifest.readSnapshot(spark, root, "bk", "int", Some(s1))
        .count()
    }
    // and the live table is intact through all the churn
    val live = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .select($"i").as[Long].collect().sorted.toSeq
    val expect = (0 until 3).flatMap(b =>
      (1 to 25).map(i => (3000 + b * 100 + i).toLong)).sorted
    assert(live == expect, s"${live.size} rows")
  }

  test("a REFERENCE-format packet runs VERBATIM from /root/reference " +
      "via conf.pgDialect: dba_top_tables end to end, mattermost hook " +
      "included") {
    import graft.engine.{HookSink, PacketRunner, RunnerConf}
    graft.sources.PgCatalog.ensureRegistered(spark)
    val posts =
      scala.collection.mutable.Buffer.empty[(String, String, String)]
    val conf = RunnerConf(
      stateDir = Files.createTempDirectory("graft-verbatim-state").toString,
      pgDialect = true,
      hookSink = Some(HookSink.buffering(posts)))
    val res = new PacketRunner(spark, conf)
      .run("/root/reference/packets/dba_top_tables")
    assert(res.resultCode("spark") == "success",
      res.notices.mkString("; "))
    // the read_only step's resultset hook fired on the packet's OWN
    // meta_data.json channel with the fixture's largest table in it
    assert(posts.exists { case (c, _, m) =>
      c == "dbc-dba" && m.contains("lineitem") }, posts.toString)
  }

  test("the WHOLE 10-step dba_idx_diag packet runs VERBATIM from " +
      "/root/reference end to end: banners + checks, every check " +
      "non-empty on the fixture") {
    import graft.engine.{PacketRunner, RunnerConf}
    graft.sources.PgCatalog.ensureFunctionsRegistered(spark)
    val conf = RunnerConf(
      stateDir = Files.createTempDirectory("graft-idxdiag-state").toString,
      pgDialect = true)
    val res = new PacketRunner(spark, conf)
      .run("/root/reference/packets/dba_idx_diag")
    assert(res.resultCode("spark") == "success",
      res.notices.mkString("; "))
    // every step captured TWO resultsets (banner + check); spot-pin two
    // checks' content: step 02 finds the 4-column composite index,
    // step 09 the big indexless table
    val byStep = res.resultData("spark")
    assert(byStep.size == 10 && byStep.values.forall(_.size == 2),
      byStep.map { case (k, v) => s"$k:${v.size}" }.mkString(", "))
    val flatRows = byStep.values.flatten.flatMap(_.rows).toSeq
    assert(flatRows.exists(_.contains("events_composite_idx")),
      "step-02 check must surface the composite index")
    assert(flatRows.exists(_.contains("events_archive")),
      "step-09 check must surface the indexless table")
  }

  test("the GENERATOR-BEARING reference packet test_common runs " +
      "VERBATIM from /root/reference via conf.pgDialect: E7 fan-out + " +
      "GEN_*_FLD substitution + maint pre-commands + the three DO " +
      "shapes (PERFORM list, comment-only, pg_sleep) compose with the " +
      "dialect rewriter, and tracker dedup makes the re-run a no-op") {
    import graft.engine.{ActionTracker, PacketRunner, RunnerConf}
    graft.sources.PgCatalog.ensureFunctionsRegistered(spark)
    val state = Files.createTempDirectory("graft-vgen-state").toString
    val conf = RunnerConf(stateDir = state, pgDialect = true)
    val res = new PacketRunner(spark, conf)
      .run("/root/reference/packets/test_common")
    assert(res.resultCode("spark") == "success",
      res.notices.mkString("; "))
    assert(res.packetStatus("spark") == "done")
    val done = res.stepResults("spark")
    // the reference grid: generate_series(0,1010,10) rows join
    // series(10,1010,10) on row_number → 101 combos for 02_step;
    // 03_gen_nsp yields 3 rows; 04 = 3 nsp x 3 obj
    assert(done("02_step.sql") == StepOutcome.Done(101), done.toString)
    assert(done("03_step.sql") == StepOutcome.Done(3))
    assert(done("04_step.sql") == StepOutcome.Done(9))
    // GEN substitution rendered into the resultset (last combo wins)
    val rs = res.resultData("spark")("04_step.sql").head
    assert(rs.rows.head.head.toString
      .matches("nsp_[a-f]\\.(tbl_[abc]|\\d+)"), rs.rows.toString)
    // maint pre-commands ran: pg_am is served (refresh succeeds), the
    // unserved pg_amop/pg_cast are recorded no-ops, never failures
    assert(res.notices.exists(n =>
      n.message.contains("maintenance no-op: relation pg_amop")),
      res.notices.filter(_.severity == "INFO").take(20).mkString("; "))
    val tracker = new ActionTracker(spark, state)
    val n1 = tracker.actions.count()
    assert(n1 == 1L + 101 + 3 + 9 + 1 + 1, s"actions: $n1")
    // tracker dedup observed on the verbatim path: zero new actions
    val res2 = new PacketRunner(spark, conf)
      .run("/root/reference/packets/test_common")
    assert(res2.resultCode("spark") == "success")
    assert(res2.stepResults("spark")("02_step.sql") == StepOutcome.Done(0))
    assert(tracker.actions.count() == n1,
      "verbatim re-run must execute zero new actions")
  }

  test("the reference's FLAGSHIP int4->int8 packet runs VERBATIM from " +
      "/root/reference against a graft SQL table: serial seeding, " +
      "trigger-guarded concurrent insert, generator-batched MERGE " +
      "backfill, constraint + unique-index validation, rename swap - " +
      "tracker dedup intact") {
    import org.apache.spark.sql.functions.col
    graft.sources.PgCatalog.ensureFunctionsRegistered(spark)
    if (spark.conf.getOption("spark.sql.catalog.gpgddl").isEmpty) {
      spark.conf.set("spark.sql.catalog.gpgddl", "graft.sql.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gpgddl.warehouse",
        Files.createTempDirectory("graft-pgddl").toString)
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpgddl.db")
    val wh = spark.conf.get("spark.sql.catalog.gpgddl.warehouse")
    val state = tmpState()
    val schemaMap = Map("public" -> "gpgddl.db")
    val conf = RunnerConf(stateDir = state, pgDialect = true,
      pgSchemaMap = schemaMap,
      pgCreatePartition = Map("test_tbl" -> "bucket(4, fld_1)"))
    // the reference's whole point: a concurrent writer inserts WHILE
    // the migration runs, and the 01-step trigger keeps id_new in sync
    // for rows the backfill may already have passed — fire two inserts
    // through the PG-DDL path as soon as the trigger registers
    @volatile var lateRows = 0
    val writer = new Thread(() => {
      val fs = new org.apache.hadoop.fs.Path(wh).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val trig =
        new org.apache.hadoop.fs.Path(s"$wh/_pg/trig_test_tbl_tg")
      val deadline = System.currentTimeMillis() + 120000
      while (!fs.exists(trig) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      if (fs.exists(trig)) {
        try {
          PgDdl.execute(spark, schemaMap, Map.empty,
            "INSERT INTO public.test_tbl(fld_1, fld_2) VALUES " +
              "(9000000001, 'late_a'), (9000000002, 'late_b')", _ => ())
          lateRows = 2
        } catch {
          case e: Throwable =>
            println(s"[w] concurrent insert FAILED: ${e.getClass}: " +
              String.valueOf(e.getMessage).take(400))
            e.printStackTrace()
        }
      }
    })
    writer.start()
    val res = new PacketRunner(spark, conf)
      .run("/root/reference/packets/test_int4_to_int8")
    writer.join(130000)
    assert(res.resultCode("spark") == "success",
      res.notices.mkString("; "))
    assert(lateRows == 2, "the concurrent writer must have fired")
    val t = spark.table("gpgddl.db.test_tbl")
    // the swap landed: the surviving id IS the widened bigint
    assert(t.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(t.columns.toSeq.sorted == Seq("fld_1", "fld_2", "id"))
    assert(t.count() == 200010L + 2 + 11, s"rows: ${t.count()}")
    // original rows keep id == fld_1 through trigger + backfill + swap
    assert(t.filter(col("fld_1") <= 200010L &&
      col("id") =!= col("fld_1")).count() == 0,
      "backfilled ids must pair with their original values")
    // trigger-guarded concurrent rows got the next serial ids
    val late = t.filter(col("fld_2").startsWith("late_"))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(late == Seq(200011L, 200012L), s"late ids: $late")
    // 07's post-swap inserts continue the sequence via the re-owned
    // default, with values past the int4 range (the migration's point)
    val post = t.filter(col("fld_1")
        .between(4000000000L, 4000000010L))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(post == (200013L to 200023L), s"post-swap ids: $post")
    // tracker dedup intact on the verbatim path: the re-run executes
    // ZERO new actions and changes nothing
    val tracker = new ActionTracker(spark, state)
    val n1 = tracker.actions.count()
    val res2 = new PacketRunner(spark, conf)
      .run("/root/reference/packets/test_int4_to_int8")
    assert(res2.resultCode("spark") == "success",
      res2.notices.mkString("; "))
    assert(tracker.actions.count() == n1,
      "verbatim re-run must execute zero new actions")
    assert(spark.table("gpgddl.db.test_tbl").count() == 200023L)
  }

  test("alert_check_autovacuum's PL/pgSQL DO block runs VERBATIM: the " +
      "condition-gated raise fires with PG's formatted message under " +
      "exact @> containment, and test_raise's unconditional raise too") {
    import graft.engine.{HookSink, PacketRunner, RunnerConf}
    graft.sources.PgCatalog.ensureFunctionsRegistered(spark)
    val posts =
      scala.collection.mutable.Buffer.empty[(String, String, String)]
    val conf = RunnerConf(
      stateDir = Files.createTempDirectory("graft-av-state").toString,
      pgDialect = true,
      hookSink = Some(HookSink.buffering(posts)))
    val res = new PacketRunner(spark, conf)
      .run("/root/reference/packets/alert_check_autovacuum")
    // the fixture has autovacuum_enabled=false on events (exactly
    // contained in the literal set) and on documents (which ALSO
    // carries a toast option, so PG's @> containment EXCLUDES it —
    // the twin's LIKE interpretation would wrongly include it)
    assert(res.resultCode("spark") != "success", res.resultCode.toString)
    val msgs = res.notices.map(_.message) ++ posts.map(_._3)
    assert(msgs.exists(_.contains(
      "autovacuum_enabled=false on some tables! {analytics.events}")),
      msgs.mkString("; "))
    // the unconditional raise shape (test_raise/01_step.sql)
    val res2 = new PacketRunner(spark, RunnerConf(
      stateDir = Files.createTempDirectory("graft-raise-state").toString,
      pgDialect = true))
      .run("/root/reference/packets/test_raise")
    assert(res2.resultCode("spark") != "success")
    assert(res2.notices.exists(_.message.contains("some exception")),
      res2.notices.mkString("; "))
  }

  test("compaction packet re-run is a tracked no-op: actions dedupe " +
      "against the tracker and the snapshot history does not churn") {
    import graft.engine.{PacketRunner, PartitionedManifest, RunnerConf}
    Tables.registerAll(spark, fixtures)
    PartitionedManifest.ensurePacketPublishSteps()
    val conf = RunnerConf(
      stateDir = Files.createTempDirectory("graft-cmp-state").toString,
      placeholders = Map("cmp_src" ->
        Files.createTempDirectory("graft-cmp-src").toString))
    val res1 = new PacketRunner(spark, conf)
      .run("packets/test_compaction")
    assert(res1.resultCode("spark") == "success",
      res1.notices.mkString("; "))
    val root = conf.placeholders("cmp_src")
    val snaps1 = PartitionedManifest.snapshots(spark, root)
    // same state dir -> every action MD5-dedupes; no step re-executes
    val res2 = new PacketRunner(spark, conf)
      .run("packets/test_compaction")
    assert(res2.resultCode("spark") == "success",
      res2.notices.mkString("; "))
    val snaps2 = PartitionedManifest.snapshots(spark, root)
    assert(snaps2 == snaps1,
      s"re-run churned snapshots: $snaps1 -> $snaps2")
    // beyond tracker dedup, the step ITSELF converges when replayed
    // directly: nothing is fragmented any more, so it commits nothing
    val (snap3, touched3) =
      PartitionedManifest.compact(spark, root, "bk", maxFiles = 1)
    assert(touched3.isEmpty && snaps1.contains(snap3),
      s"replayed compaction was not a no-op: $snap3 / $touched3")
  }

  test("a SKEWED partition value writes through multiple tasks/files " +
      "under the rebalance commit, not a single-writer funnel") {
    val root = Files.createTempDirectory("graft-skew").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.get(advisory)
    spark.conf.set(advisory, "64KB")
    try {
      // bk=0 carries ~200x the bytes of bk=1: repartition(partCol)
      // would pin all of it to ONE task -> one giant file; REBALANCE
      // must split it at the advisory size while bk=1 stays one file
      val skewed = (1 to 200000).map(i => (i.toLong,
          s"payload-$i-${"x" * 40}", 0))
        .toDF("i", "pay", "bk")
        .unionByName((1 to 1000).map(i => (i.toLong + 1000000L,
          s"payload-$i", 1)).toDF("i", "pay", "bk"))
      PartitionedManifest.seed(spark, root,
        skewed.repartition(8), "bk")
      val f0 = PartitionedManifest.dataFileCount(spark, s"$root/bk=0")
      val f1 = PartitionedManifest.dataFileCount(spark, s"$root/bk=1")
      assert(f0 > 1, s"skewed bk=0 wrote $f0 file(s) - single-writer funnel")
      assert(f1 == 1, s"small bk=1 wrote $f1 files")
      // and the content survives the split exactly
      val n = PartitionedManifest.read(spark, root, "bk", "int").count()
      assert(n == 201000L, s"$n rows")
    } finally spark.conf.set(advisory, prior)
  }

  test("changesBetween: metadata-first diff — identical snapshots are " +
      "empty, a new partition is all inserts, a dropped partition all " +
      "deletes, and only changed partitions' files are planned") {
    val root = Files.createTempDirectory("graft-cdc").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val rows = (0 until 2).flatMap(b => (1 to 10).map(i =>
      ((b * 100 + i).toLong, b)))
    PartitionedManifest.seed(spark, root, rows.toDF("i", "bk"), "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map.empty, keepSnapshots = 4)
    // same snapshot both ends: zero changed partitions, empty result
    // with the table schema + change column
    val same = PartitionedManifest.changesBetween(spark, root, "bk",
      "int", s1, s1)
    assert(same.count() == 0L)
    assert(same.columns.toSeq == Seq("i", "bk", "_change_type"))
    // s2 adds partition bk=2 and leaves 0,1 untouched
    val s2 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("2" -> (201 to 205).map(_.toLong).toDF("i")), keepSnapshots = 4)
    val ch = PartitionedManifest.changesBetween(spark, root, "bk", "int",
      s1, s2)
    assert(ch.inputFiles.nonEmpty &&
      ch.inputFiles.forall(_.contains("/bk=2/")),
      s"untouched partitions were planned: ${ch.inputFiles.toSeq}")
    val got = ch.select($"i", $"_change_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(got == (201 to 205).map(i => (i.toLong, "insert")))
    // reverse direction: the same delta reads as deletes
    val rev = PartitionedManifest.changesBetween(spark, root, "bk", "int",
      s2, s1)
    assert(rev.select($"_change_type").distinct.as[String]
      .collect().toSeq == Seq("delete"))
    // a row-level rewrite: update i=1 (+1000), delete i=2 in bk=0
    val p0 = (Seq(1001L) ++ (3 to 10).map(_.toLong)).toDF("i")
    val s3 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> p0), keepSnapshots = 4)
    val d = PartitionedManifest.changesBetween(spark, root, "bk", "int",
      s2, s3).select($"i", $"_change_type").as[(Long, String)]
      .collect().sorted.toSeq
    assert(d == Seq((1L, "delete"), (2L, "delete"), (1001L, "insert")), d)
  }

  test("changesBetween: high-multiplicity duplicate rows replicate " +
      "exactly (streaming generator, no per-row array materialization)") {
    val root = Files.createTempDirectory("graft-cdc-dup").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    // duplicates are legal — plain INSERT enforces nothing. A row with
    // multiset count 3 in s1 and 120003 in s2 must diff as exactly
    // 120000 inserts (the exceptAll multiplicity contract); the
    // replication streams through ReplicateN instead of allocating a
    // 120k-element sequence array inside the task.
    PartitionedManifest.seed(spark, root,
      Seq.fill(3)((7L, 0)).toDF("i", "bk"), "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map.empty, keepSnapshots = 4)
    val s2 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> Seq.fill(120003)(7L).toDF("i")), keepSnapshots = 4)
    val ch = PartitionedManifest.changesBetween(spark, root, "bk", "int",
      s1, s2)
    val byType = ch.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 120000L), byType)
    // and the reverse direction replicates the same count as deletes
    val rev = PartitionedManifest.changesBetween(spark, root, "bk",
      "int", s2, s1).groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(rev == Map("delete" -> 120000L), rev)
    // the generator itself: n copies, streamed
    val n = spark.range(1)
      .select(org.apache.spark.sql.functions.lit(42).as("a"),
        graft.functions.Replicate.replicateN(
          org.apache.spark.sql.functions.lit(250000L)))
      .groupBy($"a").count().as[(Int, Long)].collect().toSeq
    assert(n == Seq((42, 250000L)), n)
  }

  test("branches + write-audit-publish: staged branch commits are " +
      "invisible to main, their dirs survive main's keep-N GC, " +
      "fast-forward publishes in one metadata op, and a diverged main " +
      "refuses the publish") {
    val root = Files.createTempDirectory("graft-wap").toString
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest}
    val base = (0 until 2).flatMap(b => (1 to 10).map(i =>
      ((b * 100 + i).toLong, b))).toDF("i", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    PartitionedManifest.createBranch(spark, root, "audit")
    intercept[IllegalArgumentException] {
      PartitionedManifest.createBranch(spark, root, "audit")
    }
    val livePtr1 = ManifestTable.currentDataDir(s"$root/bk=1").get
    // branch commit replaces bk=1 (adds 1000 to every i)
    val b1 = PartitionedManifest.commitSnapshotToBranch(spark, root, "bk",
      Map("1" -> (101 to 110).map(i => (i + 1000).toLong).toDF("i")),
      "audit")
    // INVISIBLE to main: pointer unmoved, root snapshot unmoved, live
    // read serves the original rows
    assert(ManifestTable.currentDataDir(s"$root/bk=1").get == livePtr1)
    assert(PartitionedManifest.currentSnapshot(spark, root).contains(s1))
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .filter($"i" > 1000).count() == 0)
    // but the branch head serves them
    assert(PartitionedManifest.resolveRef(spark, root, Some("audit"))
      .contains(b1))
    assert(PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(b1)).filter($"i" > 1000).count() == 10)
    // main advances TWICE on the branch-staged partition with keep-2:
    // the branch head's staged dir must survive both commits' GC
    (1 to 2).foreach { k =>
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("1" -> (101 to 110).map(i => (i + k * 10000).toLong)
          .toDF("i")))
    }
    assert(PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(b1)).filter($"i" > 1000 && $"i" < 10000).count() == 10,
      "branch head dirs must survive main's keep-N GC")
    // main diverged from the fork base: publishing must refuse
    val ff = intercept[IllegalArgumentException] {
      PartitionedManifest.fastForward(spark, root, "bk", "audit")
    }
    assert(ff.getMessage.contains("advanced"), ff.getMessage)
    // rebase: recreate from current, replay, publish
    PartitionedManifest.dropBranch(spark, root, "audit")
    PartitionedManifest.createBranch(spark, root, "audit")
    val b2 = PartitionedManifest.commitSnapshotToBranch(spark, root, "bk",
      Map("1" -> (101 to 110).map(i => (i + 500).toLong).toDF("i")),
      "audit")
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .filter($"i" > 500 && $"i" < 10000).count() == 0,
      "rebased branch stays invisible until published")
    val pub = PartitionedManifest.fastForward(spark, root, "bk", "audit")
    assert(pub == b2)
    assert(PartitionedManifest.currentSnapshot(spark, root).contains(b2))
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .filter($"bk" === 1 && $"i".between(601, 610)).count() == 10)
    // published branch is synced: a second fast-forward is a no-op
    assert(PartitionedManifest.fastForward(spark, root, "bk", "audit")
      == b2)
    // branch commits may not CREATE partitions (live readers would see
    // a pointer-less directory)
    val np = intercept[IllegalArgumentException] {
      PartitionedManifest.commitSnapshotToBranch(spark, root, "bk",
        Map("7" -> Seq(1L).toDF("i")), "audit")
    }
    assert(np.getMessage.contains("existing"), np.getMessage)
  }

  test("dropBranch validates the ref name: '../MANIFEST' cannot step out " +
      "of _branches/ and delete the table's root pointer") {
    val root = Files.createTempDirectory("graft-refescape").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    PartitionedManifest.seed(spark, root,
      (0 until 4).map(i => (i.toLong, i % 2)).toDF("i", "bk"), "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    val manifest = java.nio.file.Paths.get(root, "MANIFEST")
    assert(Files.exists(manifest))
    intercept[IllegalArgumentException] {
      PartitionedManifest.dropBranch(spark, root, "../MANIFEST")
    }
    assert(Files.exists(manifest), "the root MANIFEST must survive")
    assert(PartitionedManifest.currentSnapshot(spark, root).contains(s1))
  }

  test("racing main and branch committers serialize safely: both land, " +
      "main never sees staged data, the branch never loses its head") {
    val root = Files.createTempDirectory("graft-race-br").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    PartitionedManifest.seed(spark, root,
      (1 to 20).map(i => (i.toLong, i % 2)).toDF("i", "bk"), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty,
      keepSnapshots = 8)
    PartitionedManifest.createBranch(spark, root, "audit")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // 3 main commits on bk=0 race 3 branch commits on bk=1. The root
    // publish lock is fail-LOUD on contention (single-writer-per-root;
    // ConcurrentPublishException tells the caller to retry) — so each
    // committer retries, exactly the documented client contract, and
    // every commit must land exactly once.
    def retrying[A](f: => A): A = {
      var out: Option[A] = None
      var spins = 0
      while (out.isEmpty) {
        try out = Some(f)
        catch {
          case _: graft.engine.ManifestTable.ConcurrentPublishException =>
            spins += 1
            require(spins < 500, "livelock")
            Thread.sleep(20)
        }
      }
      out.get
    }
    val mains = Future {
      (1 to 3).map(k => retrying(PartitionedManifest.commitSnapshot(spark,
        root, "bk", Map("0" -> (1 to 10).map(i => (i + k * 1000).toLong)
          .toDF("i")), keepSnapshots = 8)))
    }
    val branches = Future {
      (1 to 3).map(k => retrying(PartitionedManifest.commitSnapshotToBranch(
        spark, root, "bk",
        Map("1" -> (1 to 10).map(i => (i + k * 100000).toLong).toDF("i")),
        "audit", keepSnapshots = 8)))
    }
    val mainSnaps = Await.result(mains, 120.seconds)
    val branchSnaps = Await.result(branches, 120.seconds)
    assert((mainSnaps ++ branchSnaps).distinct.size == 6,
      "six distinct snapshots must land")
    // main's live state: the LAST main commit's bk=0, the ORIGINAL bk=1
    val live = PartitionedManifest.read(spark, root, "bk", "int")
    assert(PartitionedManifest.currentSnapshot(spark, root)
      .contains(mainSnaps.last))
    assert(live.filter($"bk" === 0 && $"i" > 3000).count() == 10)
    assert(live.filter($"bk" === 1 && $"i" > 100).count() == 0,
      "staged branch data leaked into main under the race")
    // the branch head: the LAST branch commit's bk=1, over main's base
    // AS OF THE FORK (bk=0 unchanged there)
    assert(PartitionedManifest.branchHead(spark, root, "audit")
      .contains(branchSnaps.last))
    val br = PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      branchSnaps.lastOption)
    assert(br.filter($"bk" === 1 && $"i" > 300000).count() == 10)
    assert(br.filter($"bk" === 0 && $"i" > 1000).count() == 0,
      "the branch must stay pinned at its fork base for bk=0")
  }

  test("schema evolution: an added column NULL-backfills old partitions, " +
      "time travel keeps each snapshot's shape, dropColumn is " +
      "metadata-only, rollback restores the pre-evolution schema, and " +
      "compaction converges the layout") {
    val root = Files.createTempDirectory("graft-evo").toString
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest}
    val base = (0 until 2).flatMap(b => (1 to 10).map(i =>
      ((b * 100 + i).toLong, b))).toDF("i", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map.empty, keepSnapshots = 6)
    assert(PartitionedManifest.snapshotSchema(spark, root, s1)
      .map(_.fieldNames.toSeq).contains(Seq("i")), "s1 must record schema")
    // ADD COLUMN: just commit an update carrying it
    val upd1 = (101 to 110).map(i => (i.toLong, s"t$i")).toDF("i", "tag")
    val s2 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("1" -> upd1), keepSnapshots = 6)
    assert(PartitionedManifest.snapshotSchema(spark, root, s2)
      .map(_.fieldNames.toSeq).contains(Seq("i", "tag")))
    val live = PartitionedManifest.read(spark, root, "bk", "int")
    assert(live.columns.toSeq == Seq("i", "tag", "bk"))
    // the untouched partition (old version dir, no tag bytes on disk)
    // serves the evolved column as NULL
    assert(live.filter($"bk" === 0).select($"tag").distinct
      .collect().map(_.isNullAt(0)).toSeq == Seq(true))
    assert(live.filter($"bk" === 1 && $"tag".isNull).count() == 0)
    // time travel: the PRE-evolution snapshot keeps its shape
    assert(PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(s1)).columns.toSeq == Seq("i", "bk"))
    // additive only: an update that silently OMITS a column fails
    // loudly and points at dropColumn
    val omit = intercept[RuntimeException] {
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> (1 to 3).map(_.toLong).toDF("i")), keepSnapshots = 6)
    }
    assert(omit.getMessage.contains("dropColumn"), omit.getMessage)
    // type changes refuse evolution
    val ty = intercept[RuntimeException] {
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> (1 to 3).map(i => (i.toString, "x")).toDF("i", "tag")),
        keepSnapshots = 6)
    }
    assert(ty.getMessage.contains("type"), ty.getMessage)
    // CDC across the evolution boundary aligns to the TO schema:
    // from-side rows carry NULL for the added column
    val ch = PartitionedManifest.changesBetween(spark, root, "bk", "int",
      s1, s2)
    assert(ch.columns.toSeq == Seq("i", "tag", "bk", "_change_type"))
    val dels = ch.filter($"_change_type" === "delete")
    assert(dels.count() == 10 && dels.filter($"tag".isNotNull).count() == 0)
    assert(ch.filter($"_change_type" === "insert" && $"tag".isNull)
      .count() == 0)
    // DROP COLUMN: metadata-only — the version directories are
    // byte-identical before and after
    val dirsBefore = (0 until 2).map(b =>
      ManifestTable.currentDataDir(s"$root/bk=$b").get)
    val s3 = PartitionedManifest.dropColumn(spark, root, "bk", "i",
      keepSnapshots = 6)
    val dirsAfter = (0 until 2).map(b =>
      ManifestTable.currentDataDir(s"$root/bk=$b").get)
    assert(dirsBefore == dirsAfter, "dropColumn must not touch data")
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .columns.toSeq == Seq("tag", "bk"))
    // pre-drop snapshots still serve the dropped column (the bytes
    // live on in the immutable version dirs)
    assert(PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(s2)).columns.toSeq == Seq("i", "tag", "bk"))
    // guards: partition column / unknown / last column
    intercept[IllegalArgumentException] {
      PartitionedManifest.dropColumn(spark, root, "bk", "bk")
    }
    intercept[IllegalArgumentException] {
      PartitionedManifest.dropColumn(spark, root, "bk", "nope")
    }
    intercept[IllegalArgumentException] {
      PartitionedManifest.dropColumn(spark, root, "bk", "tag")
    }
    // ROLLBACK past the evolution restores the pre-evolution schema
    PartitionedManifest.rollback(spark, root, "bk", s1, keepSnapshots = 6)
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .columns.toSeq == Seq("i", "bk"))
    // roll forward again and compact: the rewrite reads old dirs
    // through the RECORDED schema (mixed shapes union cleanly) and
    // materializes the evolved layout
    PartitionedManifest.rollback(spark, root, "bk", s2, keepSnapshots = 6)
    val (_, touched) = PartitionedManifest.compact(spark, root, "bk",
      maxFiles = 0, keepSnapshots = 6)
    assert(touched.nonEmpty, "forced compaction must touch partitions")
    val bk0Dir = ManifestTable.currentDataDir(s"$root/bk=0").get
    assert(spark.read.parquet(bk0Dir).columns.toSeq == Seq("i", "tag"),
      "compaction must materialize the evolved shape")
    val after = PartitionedManifest.read(spark, root, "bk", "int")
    assert(after.count() == 20 &&
      after.filter($"bk" === 0 && $"tag".isNotNull).count() == 0)
  }

  test("tags pin snapshots and their version dirs past the keep-N " +
      "horizon; tag names are immutable; dropTag re-enters the horizon " +
      "at the next commit") {
    val root = Files.createTempDirectory("graft-tags").toString
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest}
    PartitionedManifest.seed(spark, root,
      (1 to 10).map(i => (i.toLong, i % 2)).toDF("i", "bk"), "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    assert(PartitionedManifest.tagSnapshot(spark, root, "gold") == s1)
    // immutable: re-tagging the same name fails loudly
    intercept[Exception] {
      PartitionedManifest.tagSnapshot(spark, root, "gold")
    }
    // tagging an unknown snapshot fails loudly
    intercept[Exception] {
      PartitionedManifest.tagSnapshot(spark, root, "bad",
        Some("s999999-nope"))
    }
    val dir0 = ManifestTable.currentDataDir(s"$root/bk=0").get
    // two keep-2 commits rewriting bk=0: s1 would expire without the tag
    (1 to 2).foreach { k =>
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> (1 to 10).map(i => (i * 10L * k)).toDF("i")))
    }
    val snaps = PartitionedManifest.snapshots(spark, root)
    assert(snaps.contains(s1), s"tagged snapshot trimmed: $snaps")
    assert(snaps.length == 3, snaps)
    // the tagged version DIR survived partition GC: reading the tagged
    // snapshot still serves the original rows
    assert(new java.io.File(dir0.stripPrefix("file:")).isDirectory,
      s"tagged version dir collected: $dir0")
    val tagged = PartitionedManifest.readSnapshot(spark, root, "bk",
      "int", PartitionedManifest.resolveRef(spark, root, Some("gold")))
    assert(tagged.select($"i").as[Long].collect().sorted.toSeq ==
      (1L to 10L))
    // drop the tag: the NEXT commit trims s1 and its unique dirs are
    // collectable on the partition's next touch
    PartitionedManifest.dropTag(spark, root, "gold")
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> (1 to 10).map(i => (i * 1000L)).toDF("i")))
    assert(!PartitionedManifest.snapshots(spark, root).contains(s1))
    assert(PartitionedManifest.tags(spark, root).isEmpty)
  }

  test("rollback restores the tagged state metadata-only as a forward " +
      "commit and fails loudly on partitions created after the target") {
    val root = Files.createTempDirectory("graft-rollback").toString
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest}
    PartitionedManifest.seed(spark, root,
      (1 to 10).map(i => (i.toLong, i % 2)).toDF("i", "bk"), "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    PartitionedManifest.tagSnapshot(spark, root, "r1")
    val origDir0 = ManifestTable.currentDataDir(s"$root/bk=0").get
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> Seq(999L).toDF("i")))
    // a partition created AFTER the target blocks rollback (live
    // readers would otherwise still see it) — fails loudly
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("7" -> Seq(777L).toDF("i")))
    val ex = intercept[Exception] {
      PartitionedManifest.rollback(spark, root, "bk", "r1")
    }
    assert(ex.getMessage.contains("created after"), ex.getMessage)
    // remove the extra partition dir, then rollback succeeds
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/bk=7"), true)
    val s4 = PartitionedManifest.rollback(spark, root, "bk", "r1")
    assert(s4 != s1, "rollback must be a NEW commit, not a pointer reuse")
    assert(PartitionedManifest.currentSnapshot(spark, root).contains(s4))
    // metadata-only: bk=0's live pointer is the ORIGINAL version dir
    assert(ManifestTable.currentDataDir(s"$root/bk=0").contains(origDir0))
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .select($"i").as[Long].collect().sorted.toSeq == (1L to 10L))
    // rolling back to a missing ref fails loudly
    intercept[Exception] {
      PartitionedManifest.rollback(spark, root, "bk", "no-such-ref")
    }
  }

  test("incremental consumer: cursor jumps coalesce commits, a lagging " +
      "cursor past the keep-N horizon fails loudly (never skips), and " +
      "bootstrap recovers") {
    val root = Files.createTempDirectory("graft-inc").toString
    val cur = Files.createTempDirectory("graft-inc-cursor").toString
    import spark.implicits._
    import graft.engine.{IncrementalConsumer, PartitionedManifest}
    PartitionedManifest.seed(spark, root,
      (1 to 10).map(i => (i.toLong, i % 2)).toDF("i", "bk"), "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty,
      keepSnapshots = 3)
    var seen = Vector.empty[Set[Long]]
    IncrementalConsumer.bootstrap(spark, root, "bk", "int", cur) {
      (df, _) => seen :+= df.select($"i").as[Long].collect().toSet
    }
    assert(seen == Vector((1L to 10L).toSet))
    // two commits land before the consumer wakes: ONE coalesced diff
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("0" -> Seq(100L).toDF("i")), keepSnapshots = 3)
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("1" -> Seq(200L).toDF("i")), keepSnapshots = 3)
    val pairs = IncrementalConsumer.drain(spark, root, "bk", "int", cur) {
      (diff, _, _) =>
        seen :+= diff.filter($"_change_type" === "insert")
          .select($"i").as[Long].collect().toSet
    }
    assert(pairs.length == 1, s"coalesced drain expected: $pairs")
    assert(seen.last == Set(100L, 200L), seen.last)
    // lag past the keep-3 horizon: the cursor's snapshot file expires
    // and the next consume fails LOUDLY instead of skipping commits
    (1 to 4).foreach { k =>
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> Seq(k * 1000L).toDF("i")), keepSnapshots = 3)
    }
    intercept[Exception] {
      IncrementalConsumer.consumeOnce(spark, root, "bk", "int", cur) {
        (_, _, _) => ()
      }
    }
    // recovery is explicit: re-bootstrap from the full current snapshot
    IncrementalConsumer.bootstrap(spark, root, "bk", "int", cur) {
      (df, _) => seen :+= df.select($"i").as[Long].collect().toSet
    }
    assert(seen.last == Set(4000L, 200L), seen.last)
    assert(IncrementalConsumer.consumeOnce(spark, root, "bk", "int", cur) {
      (_, _, _) => sys.error("caught up")
    }.isEmpty)
  }

  test("file skipping: unanalyzed versions never skip, analyzed ones " +
      "skip only non-intersecting files, and results match the full " +
      "scan exactly") {
    val root = Files.createTempDirectory("graft-zonemap").toString
    import spark.implicits._
    import graft.engine.{FileStats, ManifestTable, PartitionedManifest}
    // two partitions, each range-clustered into 4 files over disjoint
    // i-spans
    Seq(0, 1).foreach { b =>
      val df = (1 to 400).map(i => (b * 1000 + i).toLong).toDF("i")
        .repartitionByRange(4, $"i").sortWithinPartitions($"i")
      PartitionedManifest.publishPartition(spark, root, "bk",
        b.toString, df)
    }
    // no sidecar yet: nothing may be skipped (stats are an optimization)
    val (df0, kept0, total0) = PartitionedManifest.scanWithFileSkipping(
      spark, root, "bk", "int", "i", 1.0, 50.0)
    assert(total0 == 8 && kept0 == 8, s"unanalyzed: $kept0/$total0")
    assert(df0.select($"i").as[Long].collect().sorted.toSeq == (1L to 50L))
    assert(PartitionedManifest.analyzeFileStats(spark, root, "bk",
      Seq("i")) == 2)
    // re-analyze is a no-op (idempotent per immutable version)
    assert(PartitionedManifest.analyzeFileStats(spark, root, "bk",
      Seq("i")) == 0)
    val (df1, kept1, total1) = PartitionedManifest.scanWithFileSkipping(
      spark, root, "bk", "int", "i", 1.0, 50.0)
    assert(total1 == 8 && kept1 == 1, s"analyzed: $kept1/$total1")
    assert(df1.select($"i").as[Long].collect().sorted.toSeq == (1L to 50L))
    // a band covering most of partition 0 plus partition 1's low file
    // keeps exactly the intersecting files (4 of bk=0 + 1 of bk=1),
    // skipping bk=1's upper three
    val (df2, kept2, _) = PartitionedManifest.scanWithFileSkipping(
      spark, root, "bk", "int", "i", 90.0, 1010.0)
    assert(kept2 == 5, s"kept $kept2")
    assert(df2.select($"i").as[Long].collect().sorted.toSeq ==
      ((90L to 400L) ++ (1001L to 1010L)))
    // stats survive under the version dir as an underscore sidecar the
    // normal readers ignore
    val dir0 = ManifestTable.currentDataDir(s"$root/bk=0").get
    assert(FileStats.statsFor(spark, dir0).exists(_.nonEmpty))
    assert(PartitionedManifest.read(spark, root, "bk", "int").count() ==
      800L)
    // a publish makes a NEW version (no sidecar): back to never-skip
    // until re-analyzed
    PartitionedManifest.publishPartition(spark, root, "bk", "0",
      (1 to 400).map(i => i.toLong * 2).toDF("i"))
    val (_, kept3, total3) = PartitionedManifest.scanWithFileSkipping(
      spark, root, "bk", "int", "i", 1.0, 50.0,
      partitions = Some(Seq("0")))
    assert(kept3 == total3, s"new version must not inherit stats")
  }

  test("string zone maps: range-clustered string column skips files " +
      "by binary-order bounds; all-null chunks skip any range") {
    val root = Files.createTempDirectory("graft-zonemap-str").toString
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val words = (0 until 400).map(i => f"w$i%04d")
    PartitionedManifest.publishPartition(spark, root, "bk", "0",
      words.toDF("s").repartitionByRange(4, $"s")
        .sortWithinPartitions($"s"))
    // a second partition whose column is ALL NULL: any range predicate
    // can skip its files entirely
    PartitionedManifest.publishPartition(spark, root, "bk", "1",
      Seq.fill(10)(null: String).toDF("s"))
    PartitionedManifest.analyzeFileStats(spark, root, "bk", Seq("s"))
    val (df, kept, total) = PartitionedManifest.scanWithFileSkippingString(
      spark, root, "bk", "int", "s", "w0000", "w0050")
    assert(total >= 5 && kept == 1, s"kept $kept of $total")
    assert(df.select($"s").as[String].collect().sorted.toSeq ==
      words.filter(w => w >= "w0000" && w <= "w0050"))
  }

  test("partition-spec manifest: time travel serves the pre-merge " +
      "content, a mismatched spec fails loudly, and the keep-2 horizon " +
      "trims snapshot files") {
    import spark.implicits._
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    val root = Files.createTempDirectory("graft-specm").toString
    val spec = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(3))))
    val base = (0 until 60).map(i => (i.toLong, i * 1.0, s"g${i % 2}"))
      .toDF("k", "v", "grp")
    val s1 = SpecManifest.seed(spark, root, base, spec)
    def readAll(snap: Option[String] = None) =
      SpecManifest.read(spark, root, spec, snap)
        .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(readAll().size == 60)
    // one-leaf update: replace leaf (g0, bucket(0L)) content
    val b0 = spark.range(1)
      .select(spec.fields(1).derive(org.apache.spark.sql.functions
        .lit(0L)).as("v")).head().getString(0)
    val cur = SpecManifest.read(spark, root, spec)
    val leaf = cur.filter($"g" === "g0" && $"b" === b0).drop("g", "b")
    val s2 = SpecManifest.commitSnapshot(spark, root, spec,
      Map(Seq("g0", b0) -> leaf.withColumn("v", $"v" + 1000.0)))
    val now = readAll()
    val then1 = readAll(Some(s1))
    assert(then1(0L) == 0.0 && now(0L) == 1000.0)
    // CDC between the commits touches exactly that leaf's rows
    val ch = SpecManifest.changesBetween(spark, root, spec, s1, s2)
    assert(ch.inputFiles.forall(_.contains(s"/g=g0/b=$b0/")))
    // wrong spec: loud
    intercept[IllegalArgumentException] {
      SpecManifest.read(spark, root, PartitionSpec(Seq(
        PartField("g", "grp", Identity), PartField("b", "k", Bucket(4)))))
    }
    // keep-2: a third commit trims s1's snapshot file
    SpecManifest.commitSnapshot(spark, root, spec,
      Map(Seq("g0", b0) -> leaf.withColumn("v", $"v" + 2000.0)))
    assert(!SpecManifest.snapshots(spark, root).contains(s1),
      SpecManifest.snapshots(spark, root).toString)
  }

  test("branch-aware incremental consumption: an audit consumer tails " +
      "staged branch commits invisible to main, and after fastForward " +
      "neither it nor a main consumer re-emits the published rows") {
    import spark.implicits._
    import graft.engine.{IncrementalConsumer, PartitionedManifest}
    val root = Files.createTempDirectory("graft-brcons").toString
    val curAudit = Files.createTempDirectory("graft-brcons-a").toString
    val curMain = Files.createTempDirectory("graft-brcons-m").toString
    val base = (0 until 40).map(i => (i.toLong, i * 1.0, i % 2))
      .toDF("k", "v", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    IncrementalConsumer.bootstrap(spark, root, "bk", "int", curAudit) {
      (_, _) => () }
    IncrementalConsumer.bootstrap(spark, root, "bk", "int", curMain) {
      (_, _) => () }
    PartitionedManifest.createBranch(spark, root, "audit")
    // two staged commits: bump k=2 on bk=0, then drop k=5 from bk=1
    val p0 = PartitionedManifest.readSnapshot(spark, root, "bk", "int")
      .filter($"bk" === 0)
      .withColumn("v", org.apache.spark.sql.functions
        .when($"k" === 2, 99.0).otherwise($"v")).drop("bk")
    PartitionedManifest.commitSnapshotToBranch(spark, root, "bk",
      Map("0" -> p0), "audit")
    val p1 = PartitionedManifest.readSnapshot(spark, root, "bk", "int",
        PartitionedManifest.branchHead(spark, root, "audit"))
      .filter($"bk" === 1 && $"k" =!= 5).drop("bk")
    PartitionedManifest.commitSnapshotToBranch(spark, root, "bk",
      Map("1" -> p1), "audit")
    // the main consumer sees NOTHING: staged commits never advance main
    assert(IncrementalConsumer.consumeOnce(spark, root, "bk", "int",
      curMain) { (_, _, _) => fail("staged commits must be invisible") }
      .isEmpty)
    // the audit consumer tails the branch: one coalesced step, the
    // row-level effect of both staged commits
    var auditDiff = Seq.empty[(Long, Double, Int, String)]
    val drained = IncrementalConsumer.drain(spark, root, "bk", "int",
      curAudit, ref = Some("audit")) { (d, _, _) =>
      auditDiff = d.as[(Long, Double, Int, String)].collect().toSeq
    }
    assert(drained.length == 1, drained.toString)
    assert(auditDiff.sortBy(r => (r._4, r._1)) == Seq(
      (5L, 5.0, 1, "delete"), (2L, 2.0, 0, "delete"),
      (2L, 99.0, 0, "insert")).sortBy(r => (r._4, r._1)), auditDiff)
    // publish: fastForward is one metadata op; the audit consumer is
    // already AT the published head — nothing re-emits, on either the
    // branch ref or main
    PartitionedManifest.fastForward(spark, root, "bk", "audit")
    assert(IncrementalConsumer.consumeOnce(spark, root, "bk", "int",
      curAudit, ref = Some("audit")) { (_, _, _) =>
      fail("audit consumer must not re-emit after fastForward") }.isEmpty)
    assert(IncrementalConsumer.consumeOnce(spark, root, "bk", "int",
      curAudit) { (_, _, _) =>
      fail("switching the caught-up audit consumer to main must not " +
        "re-emit") }.isEmpty)
    // the main consumer now sees the published delta exactly once
    var mainDiff = 0L
    assert(IncrementalConsumer.drain(spark, root, "bk", "int", curMain) {
      (d, _, _) => mainDiff += d.count() }.length == 1)
    assert(mainDiff == 3, s"main consumer diff rows: $mainDiff")
  }

  test("merge-on-read: delta chains survive keep-2 trims (base dirs are " +
      "chain-protected from GC), readers resolve layered upserts and " +
      "deletes, and compaction folds the chain to a pure dir") {
    import spark.implicits._
    import graft.engine.PartitionedManifest
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-mor").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val base = (0 until 100).map(i => (i.toLong, i * 1.0, i % 2))
      .toDF("k", "v", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    val v1dir = graft.engine.ManifestTable.currentVersion(s"$root/bk=0").get
    // four MOR commits at the MINIMUM horizon (keep-2): by the fourth,
    // the snapshot that named the pure base dir has been trimmed — the
    // base must survive anyway, because every layer's protection set
    // expands through the _mor.tsv chain
    def upsert(k: Long, v: Double) =
      PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
        upserts = Map("0" -> Seq((k, v)).toDF("k", "v")))
    upsert(0L, 100.0)
    upsert(2L, 200.0)
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      deletes = Map("0" -> Seq(4L).toDF("k")))
    upsert(0L, 300.0) // re-layer the same key: newest layer must win
    assert(fs.exists(new HPath(s"$root/bk=0/$v1dir")),
      "the MOR chain's base dir must survive keep-2 snapshot trims")
    def content() = PartitionedManifest.read(spark, root, "bk", "int")
      .filter($"bk" === 0).select($"k", $"v").as[(Long, Double)]
      .collect().toMap
    val got = content()
    assert(got(0L) == 300.0 && got(2L) == 200.0 && !got.contains(4L) &&
      got(6L) == 6.0 && got.size == 49, s"resolved content wrong: " +
      s"size=${got.size} 0->${got.get(0L)} 2->${got.get(2L)}")
    // contracts fail loudly
    intercept[IllegalArgumentException] { // unknown partition
      PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
        upserts = Map("9" -> Seq((1L, 1.0)).toDF("k", "v")))
    }
    intercept[IllegalArgumentException] { // overlapping upsert/delete keys
      PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
        upserts = Map("0" -> Seq((8L, 8.5)).toDF("k", "v")),
        deletes = Map("0" -> Seq(8L).toDF("k")))
    }
    intercept[IllegalArgumentException] { // delete frame must be key-only
      PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
        deletes = Map("0" -> Seq((8L, 8.5)).toDF("k", "v")))
    }
    intercept[IllegalArgumentException] { // catalog cannot serve MOR
      PartitionedManifest.syncCatalogTable(spark, root, "mor_t", "bk",
        "int")
    }
    intercept[IllegalArgumentException] { // zone maps need a pure dir
      PartitionedManifest.analyzeFileStats(spark, root, "bk", Seq("k"))
    }
    // compaction folds down; content identical; catalog serving works
    val (_, touched) = PartitionedManifest.compact(spark, root, "bk")
    assert(touched.contains("0"))
    assert(!fs.exists(new HPath(
      s"$root/bk=0/${graft.engine.ManifestTable.currentVersion(
        s"$root/bk=0").get}/_mor.tsv")))
    assert(content() == got, "fold-down must preserve content")
    PartitionedManifest.syncCatalogTable(spark, root, "mor_t", "bk", "int")
    assert(spark.table("mor_t").count() == 99)
    // the same protection on a SPEC table, whose compaction adopts
    // through version GC: a tagged pre-compaction snapshot keeps reading
    // its merge-on-read content after compactLeaves and one more commit,
    // and the orphan sweep deletes no dir of the tagged chain
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    val sroot = Files.createTempDirectory("graft-specmor").toString
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    SpecManifest.seed(spark, sroot, (0 until 20).map(i =>
      (i.toLong, i * 1.0, s"g${i % 2}")).toDF("k", "v", "grp"), spec)
    def specMerge(k: Long, v: Double, del: Seq[Long] = Nil) =
      SpecManifest.commitMerge(spark, sroot, spec, Seq("k"),
        upserts = Map(Seq("g0") -> Seq((k, v, "g0")).toDF("k", "v", "grp")),
        deletes = if (del.isEmpty) Map.empty
          else Map(Seq("g0") -> del.toDF("k")))
    specMerge(0L, 100.0, del = Seq(2L))
    specMerge(4L, 400.0)
    val pre = SpecManifest.tagSnapshot(spark, sroot, "pre")
    def specContent(snap: String) = SpecManifest.read(spark, sroot, spec,
      Some(snap)).select($"k", $"v").as[(Long, Double)].collect().toMap
    val preContent = specContent(pre)
    assert(preContent(0L) == 100.0 && preContent(4L) == 400.0 &&
      !preContent.contains(2L) && preContent.size == 19, preContent)
    val (_, folded) = SpecManifest.compactLeaves(spark, sroot, spec)
    assert(folded == Seq("g=g0"), folded)
    specMerge(6L, 600.0)
    assert(specContent(pre) == preContent,
      "the tagged pre-compaction snapshot must still resolve its chain")
    val leafRoot = s"$sroot/g=g0"
    def chainOf(d: String): List[String] = {
      val m = java.nio.file.Paths.get(leafRoot, d, "_mor.tsv")
      if (!Files.exists(m)) List(d)
      else d :: chainOf(new String(Files.readAllBytes(m),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator
        .find(_.startsWith("base=")).get.stripPrefix("base="))
    }
    val chain = chainOf(SpecManifest.snapshotMapping(spark, sroot, pre)
      .toMap.apply("g=g0"))
    assert(chain.length == 3, s"two layers over the seed dir: $chain")
    val swept = SpecManifest.cleanOrphans(spark, sroot, spec, graceMs = 0L)
    assert(!swept.exists(p => chain.exists(d => p.endsWith(s"/g=g0/$d"))),
      s"the sweep deleted a dir of the tagged chain: $swept")
    assert(chain.forall(d => Files.isDirectory(
      java.nio.file.Paths.get(leafRoot, d))), s"chain dirs gone: $chain")
    assert(specContent(pre) == preContent,
      "the tagged snapshot must still read after the sweep")
  }

  test("merge-on-read: foldChainAt bounds the delta chain inline — a " +
      "merge that would reach the bound publishes the RESOLVED content " +
      "as a pure dir, and content is preserved across folds") {
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest}
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-morfold").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val base = (0 until 100).map(i => (i.toLong, i * 1.0, i % 2))
      .toDF("k", "v", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    def isMor() = fs.exists(new HPath(
      s"$root/bk=0/${ManifestTable.currentVersion(s"$root/bk=0").get}" +
        "/_mor.tsv"))
    def upsert(k: Long, v: Double) =
      PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
        upserts = Map("0" -> Seq((k, v)).toDF("k", "v")),
        foldChainAt = 3)
    upsert(0L, 100.0) // chain: layer + base = 2 < 3
    assert(isMor(), "first merge under the bound must layer")
    upsert(2L, 200.0) // would reach 3 -> folds to a pure dir
    assert(!isMor(), "the bound-reaching merge must fold to a pure dir")
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      deletes = Map("0" -> Seq(4L).toDF("k")), foldChainAt = 3)
    assert(isMor(), "post-fold merge starts a fresh chain")
    upsert(0L, 300.0) // reaches the bound again -> folds, delete applied
    assert(!isMor(), "second bound-reaching merge must fold again")
    val got = PartitionedManifest.read(spark, root, "bk", "int")
      .filter($"bk" === 0).select($"k", $"v").as[(Long, Double)]
      .collect().toMap
    assert(got(0L) == 300.0 && got(2L) == 200.0 && !got.contains(4L) &&
      got(6L) == 6.0 && got.size == 49,
      s"folded content wrong: size=${got.size} 0->${got.get(0L)}")
  }

  test("spec merge-on-read: compactLeaves is optimistic — a commitMerge " +
      "landing mid-fold invalidates its leaf (retried with a fresh " +
      "read-set), the clean leaf commits, and nothing is lost") {
    import spark.implicits._
    import graft.engine.{ManifestTable, SpecManifest}
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-specfold").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val spec = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(2))))
    val base = (0 until 40).map(i => (i.toLong, i * 1.0, s"g${i % 2}"))
      .toDF("k", "v", "grp")
    SpecManifest.seed(spark, root, base, spec)
    // make every leaf MOR-live
    val leaves = SpecManifest.leafKeys(spark, root, spec)
    leaves.foreach { vs =>
      val keys = SpecManifest.readLeaf(spark, root, spec, vs)
        .select($"k").as[Long].head(1).toSeq
      SpecManifest.commitMerge(spark, root, spec, Seq("k"),
        upserts = Map(vs -> keys.map(k => (k, -1.0, s"g${k % 2}"))
          .toDF("k", "v", "grp")))
    }
    def isMor(vs: Seq[String]) = fs.exists(new HPath(
      s"$root/g=${vs(0)}/b=${vs(1)}/" + ManifestTable.currentVersion(
        s"$root/g=${vs(0)}/b=${vs(1)}").get, "_mor.tsv"))
    assert(leaves.forall(isMor))
    // a concurrent merge lands on ONE leaf between the fold's rewrite
    // and its validation — that leaf must be detected dirty and retried
    val hot = leaves.head
    var fired = false
    val (_, folded) = SpecManifest.compactLeaves(spark, root, spec,
      onBeforeValidate = () => if (!fired) {
        fired = true
        SpecManifest.commitMerge(spark, root, spec, Seq("k"),
          upserts = Map(hot -> Seq((999L, 9.0, hot(0)))
            .toDF("k", "v", "grp")))
      })
    assert(folded.toSet ==
      leaves.map(vs => s"g=${vs(0)}/b=${vs(1)}").toSet,
      s"every MOR leaf must fold (retry included): $folded")
    assert(leaves.forall(vs => !isMor(vs)),
      "all leaves must be pure after the pass")
    val got = SpecManifest.read(spark, root, spec)
      .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(got(999L) == 9.0, "the mid-fold commit's row must survive")
    assert(got.size == 41 && got.values.count(_ == -1.0) == leaves.size,
      s"fold must preserve merged content: size=${got.size}")
    // the same race through the clustered layout rewrite, the loop's
    // other spec caller: the mid-rewrite commit wins, and its leaf is
    // re-clustered from the fresh version, never adopted stale
    def isClustered(vs: Seq[String]) = fs.exists(new HPath(
      s"$root/g=${vs(0)}/b=${vs(1)}/" + ManifestTable.currentVersion(
        s"$root/g=${vs(0)}/b=${vs(1)}").get, "_clustered.tsv"))
    var fired2 = false
    val (_, rewritten) = SpecManifest.rewriteLayout(spark, root, spec,
      Seq("k"), clusterFiles = 1,
      onBeforeValidate = () => if (!fired2) {
        fired2 = true
        SpecManifest.commitMerge(spark, root, spec, Seq("k"),
          upserts = Map(hot -> Seq((998L, 8.0, hot(0)))
            .toDF("k", "v", "grp")))
      })
    assert(fired2, "race hook never fired")
    assert(rewritten.toSet ==
      leaves.map(vs => s"g=${vs(0)}/b=${vs(1)}").toSet,
      s"every leaf must rewrite (retry included): $rewritten")
    assert(leaves.forall(vs => !isMor(vs) && isClustered(vs)),
      "every leaf must end pure and clustered")
    val got2 = SpecManifest.read(spark, root, spec)
      .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(got2(998L) == 8.0, "the mid-rewrite commit's row must survive")
    assert(got2 - 998L == got, s"rewrite must preserve content: $got2")
  }

  test("spec evolution contracts: reads serve the CURRENT spec only, " +
      "new leaves refuse an old spec, and old-generation leaves stay " +
      "writable under their own spec") {
    import spark.implicits._
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    val root = Files.createTempDirectory("graft-specevo").toString
    val spec1 = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(2))))
    val spec2 = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b4", "k", Bucket(4))))
    val gen1 = (0 until 20).map(i => (i.toLong, i * 1.0, "old"))
      .toDF("k", "v", "grp")
    SpecManifest.seed(spark, root, gen1, spec1)
    SpecManifest.evolveSpec(spark, root, spec2)
    // an evolved spec cannot re-evolve to itself
    intercept[IllegalArgumentException] {
      SpecManifest.evolveSpec(spark, root, spec2)
    }
    // reads must name the CURRENT spec
    intercept[IllegalArgumentException] {
      SpecManifest.read(spark, root, spec1)
    }
    // a NEW leaf under the OLD spec refuses
    intercept[IllegalArgumentException] {
      SpecManifest.commitSnapshot(spark, root, spec1,
        Map(Seq("new", "0") ->
          Seq((100L, 1.0, "new")).toDF("k", "v", "grp")))
    }
    // ... but the same rows land fine under the CURRENT spec
    val rows = Seq((100L, 1.0, "new"), (101L, 2.0, "new"))
      .toDF("k", "v", "grp")
    val tagged = spec2.fields.foldLeft(rows)((d, f) =>
      d.withColumn(f.name, f.derived)).localCheckpoint()
    val updates = tagged.select($"g", $"b4").distinct().collect()
      .map(r => Seq(r.getString(0), r.getString(1)))
      .map(vs => vs -> tagged.filter($"g" === vs(0) && $"b4" === vs(1))
        .drop("g", "b4")).toMap
    SpecManifest.commitSnapshot(spark, root, spec2, updates)
    // an OLD-generation leaf merges under ITS spec (MOR), and the
    // unified read resolves it with the evolved output shape — pick
    // the leaf that actually holds k=0 (bucket placement is hashed)
    val oldLeaf = SpecManifest.leafKeys(spark, root, spec1).find { vs =>
      SpecManifest.readLeaf(spark, root, spec1, vs)
        .filter($"k" === 0L).count() > 0
    }.get
    SpecManifest.commitMerge(spark, root, spec1, Seq("k"),
      upserts = Map(oldLeaf ->
        Seq((0L, -5.0, "old")).toDF("k", "v", "grp")))
    val df = SpecManifest.read(spark, root, spec2)
    assert(df.columns.contains("b4") && !df.columns.contains("b"),
      s"evolved read shape: ${df.columns.toSeq}")
    val got = df.select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(got.size == 22 && got(0L) == -5.0 && got(100L) == 1.0 &&
      got(101L) == 2.0, s"unified content wrong: size=${got.size}")
  }

  test("table maintenance: age-based snapshot expiry honors tags and " +
      "keep-last; orphan cleanup removes stale scratch and unreferenced " +
      "version dirs but never referenced or in-grace ones") {
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest}
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-maint").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val base = (0 until 40).map(i => (i.toLong, i * 1.0, i % 2))
      .toDF("k", "v", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map.empty, keepSnapshots = 10)
    PartitionedManifest.tagSnapshot(spark, root, "keepme", Some(s1))
    val snaps = (1 to 4).map { i =>
      PartitionedManifest.commitSnapshot(spark, root, "bk",
        Map("0" -> Seq((100L + i, i * 1.0)).toDF("k", "v")),
        keepSnapshots = 10)
    }
    assert(PartitionedManifest.snapshots(spark, root).length == 5)
    // expire everything older than "now": s1 survives via its TAG,
    // the two newest via keepLast, s2 expires
    val expired = PartitionedManifest.expireSnapshots(spark, root,
      olderThanMs = System.currentTimeMillis() + 1000, keepLast = 2)
    assert(expired == Seq(snaps(0)) ||
      expired.toSet == Set(snaps(0), snaps(1)),
      s"expiry must drop only unprotected old snapshots: $expired")
    assert(PartitionedManifest.snapshots(spark, root).contains(s1),
      "a tagged snapshot must survive age expiry")
    assert(PartitionedManifest.readSnapshot(spark, root, "bk", "int",
      Some(s1)).count() == 40, "the tagged snapshot still serves")
    // a future cutoff with nothing tagged keeps exactly keepLast
    PartitionedManifest.dropTag(spark, root, "keepme")
    PartitionedManifest.expireSnapshots(spark, root,
      olderThanMs = System.currentTimeMillis() + 1000, keepLast = 2)
    assert(PartitionedManifest.snapshots(spark, root).length == 2)
    // orphans: a stranded scratch dir at the root, one under a
    // partition, and a fake unreferenced version dir
    fs.mkdirs(new HPath(s"$root/.commit-dead"))
    fs.mkdirs(new HPath(s"$root/bk=0/.mor-dead"))
    fs.mkdirs(new HPath(s"$root/bk=0/v999999-dead"))
    val live = ManifestTable.currentVersion(s"$root/bk=0").get
    // grace window: a fresh scratch dir survives a 1h-grace pass
    assert(PartitionedManifest.cleanOrphans(spark, root,
      graceMs = 3600 * 1000).isEmpty,
      "in-grace entries must survive")
    // zero grace: stale entries go, live version stays
    val deleted = PartitionedManifest.cleanOrphans(spark, root,
      graceMs = -1000)
    assert(deleted.exists(_.endsWith(".commit-dead")) &&
      deleted.exists(_.endsWith(".mor-dead")) &&
      deleted.exists(_.endsWith("v999999-dead")),
      s"stale orphans must be deleted: $deleted")
    assert(fs.exists(new HPath(s"$root/bk=0/$live")),
      "the live version dir must survive")
    // bk=1 untouched (20 rows) + bk=0 replaced by the last commit's
    // single row (commitSnapshot REPLACES partition content)
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .count() == 21, "content intact after maintenance")
  }

  test("spec-table zone maps ride the default read path (a plain " +
      "read().where(range) skips non-intersecting leaves' files), and " +
      "timestamp time travel resolves the latest snapshot at or before " +
      "the instant on both formats") {
    import spark.implicits._
    import graft.engine.{PartitionedManifest, SpecManifest}
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft-speczm").toString
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    // k ranges correlate with leaves: g=a holds k<20, g=b holds k>=20
    val base = (0 until 40)
      .map(i => (i.toLong, if (i < 20) "a" else "b")).toDF("k", "grp")
    SpecManifest.seed(spark, root, base, spec)
    def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray
            .map(_.filePath.toString).toSeq
      }.flatten
    // unanalyzed: the data-column range keeps every file
    val before = scanFiles(SpecManifest.read(spark, root, spec)
      .where($"k" >= 0L && $"k" <= 5L))
    val all = scanFiles(SpecManifest.read(spark, root, spec))
    assert(before.size == all.size && all.size >= 2,
      s"unanalyzed must never skip: ${before.size}/${all.size}")
    // analyzed: only the intersecting leaf's files survive — FILE
    // skipping on a DATA column, below partition pruning, no helper
    SpecManifest.analyzeFileStats(spark, root, spec, Seq("k"))
    val after = scanFiles(SpecManifest.read(spark, root, spec)
      .where($"k" >= 0L && $"k" <= 5L))
    assert(after.nonEmpty && after.size < all.size &&
      after.forall(_.contains("/g=a/")),
      s"analyzed range scan must skip g=b files: $after")
    // row-level predicate re-applies: content exact
    assert(SpecManifest.read(spark, root, spec)
      .where($"k" >= 0L && $"k" <= 5L).count() == 6)
    // ---- timestamp travel (both formats)
    val r2 = Files.createTempDirectory("graft-asof").toString
    val b2 = (0 until 10).map(i => (i.toLong, i % 2)).toDF("k", "bk")
    PartitionedManifest.seed(spark, r2, b2, "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, r2, "bk",
      Map.empty, keepSnapshots = 4)
    Thread.sleep(20)
    val tMid = System.currentTimeMillis()
    Thread.sleep(20)
    val s2 = PartitionedManifest.commitSnapshot(spark, r2, "bk",
      Map("0" -> Seq((100L, 1.0)).toDF("k", "v2")
        .select($"k")), keepSnapshots = 4)
    assert(PartitionedManifest.snapshotAsOf(spark, r2, tMid)
      .contains(s1), "asOf(mid) must resolve the pre-commit snapshot")
    assert(PartitionedManifest.snapshotAsOf(spark, r2,
      System.currentTimeMillis()).contains(s2))
    assert(PartitionedManifest.readSnapshot(spark, r2, "bk", "int",
      PartitionedManifest.snapshotAsOf(spark, r2, tMid))
      .count() == 10, "asOf read serves the old content")
    assert(PartitionedManifest.snapshotAsOf(spark, r2, 1000L).isEmpty,
      "asOf before every kept commit must resolve nothing")
    // the spec table's own asOf
    val sSnap = SpecManifest.snapshotAsOf(spark, root,
      System.currentTimeMillis())
    assert(sSnap.isDefined &&
      SpecManifest.read(spark, root, spec, sSnap).count() == 40)
  }

  test("spec retention parity: tags pin snapshots (and their version " +
      "dirs) through keep-N trims, rollback is metadata-only and lands " +
      "forward, age expiry honors tags, and orphan cleanup leaves " +
      "referenced dirs alone") {
    import spark.implicits._
    import graft.engine.{ManifestTable, SpecManifest}
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-specret").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    val base = (0 until 20).map(i => (i.toLong, s"g${i % 2}"))
      .toDF("k", "grp")
    val s1 = SpecManifest.seed(spark, root, base, spec)
    SpecManifest.tagSnapshot(spark, root, "v1", Some(s1))
    val v1dir = ManifestTable.currentVersion(s"$root/g=g0").get
    // three keep-2 commits: without the tag, s1 and its dirs expire
    (1 to 3).foreach { i =>
      SpecManifest.commitSnapshot(spark, root, spec,
        Map(Seq("g0") -> Seq((100L + i, "g0")).toDF("k", "grp")))
    }
    assert(SpecManifest.snapshots(spark, root).contains(s1),
      "a tagged snapshot must survive keep-2 trims")
    assert(fs.exists(new HPath(s"$root/g=g0/$v1dir")),
      "the tagged snapshot's version dir must survive leaf GC")
    assert(SpecManifest.read(spark, root, spec, Some(s1)).count() == 20,
      "the tagged snapshot still serves its full content")
    assert(SpecManifest.read(spark, root, spec).count() == 11,
      "live = g1's 10 rows + g0 replaced by one row")
    // rollback: metadata-only (pointer identity), forward commit
    val nSnaps = SpecManifest.snapshots(spark, root).length
    SpecManifest.rollback(spark, root, spec, "v1")
    assert(ManifestTable.currentVersion(s"$root/g=g0").contains(v1dir),
      "rollback must repoint at the ORIGINAL dir, not copy it")
    assert(SpecManifest.read(spark, root, spec).count() == 20)
    assert(SpecManifest.snapshots(spark, root).length >= nSnaps,
      "rollback lands as a forward commit")
    // age expiry honors the tag, then keeps exactly keepLast after drop
    SpecManifest.expireSnapshots(spark, root,
      olderThanMs = System.currentTimeMillis() + 1000, keepLast = 2)
    assert(SpecManifest.snapshots(spark, root).contains(s1))
    SpecManifest.dropTag(spark, root, "v1")
    SpecManifest.expireSnapshots(spark, root,
      olderThanMs = System.currentTimeMillis() + 1000, keepLast = 2)
    assert(SpecManifest.snapshots(spark, root).length == 2)
    // orphans: stale scratch + unreferenced version dir go, live stays
    fs.mkdirs(new HPath(s"$root/.commit-dead"))
    fs.mkdirs(new HPath(s"$root/g=g0/v999999-dead"))
    assert(SpecManifest.cleanOrphans(spark, root, spec,
      graceMs = 3600 * 1000).isEmpty, "in-grace entries survive")
    val deleted = SpecManifest.cleanOrphans(spark, root, spec,
      graceMs = -1000)
    assert(deleted.exists(_.endsWith(".commit-dead")) &&
      deleted.exists(_.endsWith("v999999-dead")), s"orphans: $deleted")
    assert(SpecManifest.read(spark, root, spec).count() == 20,
      "content intact after maintenance")
  }

  test("spec branches + write-audit-publish: branch commits stage leaf " +
      "dirs invisibly to live readers, the staged dirs survive main's " +
      "keep-2 churn, fast-forward publishes in one metadata op, and a " +
      "diverged main refuses loudly") {
    import spark.implicits._
    import graft.engine.{ManifestTable, SpecManifest}
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-specwap").toString
    val spec = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(2))))
    val base = (0 until 20).map(i => (i.toLong, i * 1.0, s"g${i % 2}"))
      .toDF("k", "v", "grp")
    SpecManifest.seed(spark, root, base, spec)
    SpecManifest.createBranch(spark, root, "audit")
    // a branch commit: staged, invisible to live readers
    val leaf = SpecManifest.leafKeys(spark, root, spec).head
    val headSnap = SpecManifest.commitSnapshotToBranch(spark, root, spec,
      Map(leaf -> Seq((900L, 9.0, leaf(0))).toDF("k", "v", "grp")),
      "audit")
    assert(SpecManifest.read(spark, root, spec)
      .filter($"k" === 900L).isEmpty, "staged data leaked to main")
    // auditors read the branch head like any snapshot
    val audit = SpecManifest.read(spark, root, spec, Some(headSnap))
    assert(audit.filter($"k" === 900L).count() == 1 &&
      audit.count() == base.count() -
        SpecManifest.readLeaf(spark, root, spec, leaf).count() + 1,
      "the branch head serves base + the staged replacement leaf")
    // the staged dir survives main's keep-2 churn on the SAME leaf
    (1 to 2).foreach { i =>
      SpecManifest.commitSnapshot(spark, root, spec,
        Map(leaf -> Seq((800L + i, 1.0, leaf(0))).toDF("k", "v", "grp")))
    }
    val stagedDir = SpecManifest.snapshotMapping(spark, root, headSnap)
      .toMap.apply(s"g=${leaf(0)}/b=${leaf(1)}")
    assert(new HPath(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      .exists(new HPath(s"$root/g=${leaf(0)}/b=${leaf(1)}/$stagedDir")),
      "branch-staged dirs must survive main-side GC")
    // diverged main refuses the publish loudly
    intercept[IllegalArgumentException] {
      SpecManifest.fastForward(spark, root, spec, "audit")
    }
    // a fresh branch from current publishes cleanly
    SpecManifest.createBranch(spark, root, "audit2")
    SpecManifest.commitSnapshotToBranch(spark, root, spec,
      Map(leaf -> Seq((901L, 9.0, leaf(0))).toDF("k", "v", "grp")),
      "audit2")
    SpecManifest.fastForward(spark, root, spec, "audit2")
    val got = SpecManifest.read(spark, root, spec)
      .select($"k").as[Long].collect().toSet
    assert(got.contains(901L) && !got.contains(900L) &&
      !got.contains(802L), "publish must land exactly audit2's head")
  }

  test("spec incremental consumption: exactly-once cursor over the " +
      "composite layout, branch-aware audit tailing, and no re-emission " +
      "after fast-forward") {
    import spark.implicits._
    import graft.engine.{IncrementalConsumer, SpecManifest}
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    val root = Files.createTempDirectory("graft-specinc").toString
    val curMain = Files.createTempDirectory("graft-specinc-c1").toString
    val curAudit = Files.createTempDirectory("graft-specinc-c2").toString
    val spec = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(2))))
    val base = (0 until 20).map(i => (i.toLong, i * 1.0, s"g${i % 2}"))
      .toDF("k", "v", "grp")
    SpecManifest.seed(spark, root, base, spec)
    var boot = 0L
    IncrementalConsumer.bootstrapSpec(spark, root, spec, curMain) {
      (df, _) => boot = df.count() }
    assert(boot == 20)
    // caught up: no Spark job, no emission
    assert(IncrementalConsumer.consumeOnceSpec(spark, root, spec,
      curMain) { (_, _, _) => fail("caught-up must not emit") }.isEmpty)
    // a MOR merge commits; the consumer sees exactly its logical diff
    val leaf = SpecManifest.leafKeys(spark, root, spec).find { vs =>
      SpecManifest.readLeaf(spark, root, spec, vs)
        .filter($"k" === 0L).count() > 0
    }.get
    SpecManifest.commitMerge(spark, root, spec, Seq("k"),
      upserts = Map(leaf -> Seq((0L, -5.0, "g0")).toDF("k", "v", "grp")))
    var diffs = Seq.empty[(String, Double)]
    assert(IncrementalConsumer.drainSpec(spark, root, spec, curMain) {
      (d, _, _) => diffs = d.select($"_change_type", $"v")
        .as[(String, Double)].collect().toSeq
    }.length == 1)
    assert(diffs.toSet == Set(("delete", 0.0), ("insert", -5.0)),
      s"spec consumer diff wrong: $diffs")
    // branch-aware: the audit consumer tails staged commits, and after
    // fastForward it does NOT re-emit the rows it already processed
    SpecManifest.createBranch(spark, root, "audit")
    IncrementalConsumer.bootstrapSpec(spark, root, spec, curAudit,
      ref = Some("audit")) { (_, _) => () }
    SpecManifest.commitSnapshotToBranch(spark, root, spec,
      Map(leaf -> Seq((900L, 9.0, leaf(0))).toDF("k", "v", "grp")),
      "audit")
    var staged = 0L
    assert(IncrementalConsumer.consumeOnceSpec(spark, root, spec,
      curAudit, ref = Some("audit")) { (d, _, _) =>
        staged = d.filter($"_change_type" === "insert").count()
    }.isDefined)
    assert(staged == 1, s"audit consumer must see the staged insert")
    SpecManifest.fastForward(spark, root, spec, "audit")
    assert(IncrementalConsumer.consumeOnceSpec(spark, root, spec,
      curAudit, ref = Some("audit")) { (_, _, _) =>
        fail("audit consumer must not re-emit after fastForward")
    }.isEmpty)
    // ... and switching the caught-up audit consumer to main is clean
    assert(IncrementalConsumer.consumeOnceSpec(spark, root, spec,
      curAudit) { (_, _, _) =>
        fail("caught-up main switch must not emit") }.isEmpty)
  }

  test("files metadata table: one row per live data file with bytes, " +
      "mtime and zone-map stats from listings only; merge-on-read " +
      "delta files are accounted; the spec variant keys on leaf paths") {
    import spark.implicits._
    import graft.engine.{PartitionedManifest, SpecManifest}
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    val root = Files.createTempDirectory("graft-filesmeta").toString
    val base = (0 until 40).map(i => (i.toLong, i * 1.0, i % 2))
      .toDF("k", "v", "bk")
    PartitionedManifest.seed(spark, root, base, "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    PartitionedManifest.analyzeFileStats(spark, root, "bk", Seq("k"))
    val fm = PartitionedManifest.filesMetadata(spark, root, "bk")
      .as[PartitionedManifest.FileMeta].collect()
    val expected = Seq("0", "1").map(v =>
      PartitionedManifest.dataFileCount(spark, s"$root/bk=$v")).sum
    assert(fm.length == expected && expected > 0,
      s"one row per live data file: ${fm.length} vs $expected")
    assert(fm.forall(m => m.bytes > 0 && m.modified > 0))
    assert(fm.forall(_.stats.get("k").exists(s =>
        s._1 == "long" && s._2.isDefined && s._3.isDefined)),
      "analyzed columns carry min/max stats")
    // a MOR layer's delta files are accounted with their prefix
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Map("0" -> Seq((0L, -1.0)).toDF("k", "v")))
    val fm2 = PartitionedManifest.filesMetadata(spark, root, "bk")
      .as[PartitionedManifest.FileMeta].collect()
    assert(fm2.exists(m => m.partition == "0" &&
        m.file.startsWith("_delta/upserts/")),
      s"MOR delta files must be listed: ${fm2.map(_.file).toSeq}")
    assert(fm2.filter(_.partition == "0")
      .forall(_.stats.isEmpty), "an unanalyzed MOR dir has no stats")
    // spec variant: partition = the leaf's relative path
    val r2 = Files.createTempDirectory("graft-filesmeta2").toString
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    SpecManifest.seed(spark, r2,
      (0 until 10).map(i => (i.toLong, s"g${i % 2}")).toDF("k", "grp"),
      spec)
    val sm = SpecManifest.filesMetadata(spark, r2, spec)
      .as[PartitionedManifest.FileMeta].collect()
    assert(sm.nonEmpty && sm.forall(_.partition.startsWith("g=")),
      s"spec rows key on leaf paths: ${sm.map(_.partition).toSeq}")
  }

  test("evolved-spec maintenance covers OLD-generation leaves: orphan " +
      "sweep reaches them, ANALYZE counts them, and rollback refuses a " +
      "target that predates an old-generation leaf") {
    import spark.implicits._
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    import org.apache.hadoop.fs.{Path => HPath}
    val root = Files.createTempDirectory("graft-evomaint").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val spec1 = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(2))))
    val spec2 = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b4", "k", Bucket(4))))
    val s1 = SpecManifest.seed(spark, root,
      (0 until 20).map(i => (i.toLong, i * 1.0, "old")).toDF("k", "v", "grp"),
      spec1)
    SpecManifest.tagSnapshot(spark, root, "target", Some(s1))
    // an OLD-generation leaf created AFTER the target snapshot (spec1
    // is still current here)
    SpecManifest.commitSnapshot(spark, root, spec1,
      Map(Seq("late", "0") -> Seq((100L, 1.0, "late")).toDF("k", "v", "grp")))
    SpecManifest.evolveSpec(spark, root, spec2)
    // rollback guard must see the old-generation leaf (current-spec-only
    // enumeration would miss g=late/b=0 entirely and silently restore a
    // mapping that omits it while its live pointer remains)
    intercept[IllegalArgumentException] {
      SpecManifest.rollback(spark, root, spec2, "target")
    }
    // a NEW-generation leaf under the evolved spec
    SpecManifest.commitSnapshot(spark, root, spec2,
      Map(Seq("new", "1") -> Seq((200L, 2.0, "new")).toDF("k", "v", "grp")))
    // orphan sweep reaches old-generation leaves: stranded scratch and
    // an unreferenced version dir under g=old/b=* must be deleted
    val oldLeaf = SpecManifest.leafKeys(spark, root, spec1)
      .find(_.head == "old").get
    val oldPr = s"$root/g=${oldLeaf(0)}/b=${oldLeaf(1)}"
    fs.mkdirs(new HPath(s"$oldPr/.mor-dead"))
    fs.mkdirs(new HPath(s"$oldPr/v999999-dead"))
    val deleted = SpecManifest.cleanOrphans(spark, root, spec2,
      graceMs = -1000)
    assert(deleted.exists(_.endsWith(".mor-dead")) &&
      deleted.exists(_.endsWith("v999999-dead")),
      s"old-generation leaf scratch must be swept: $deleted")
    // ANALYZE covers every generation's leaves
    val analyzed = SpecManifest.analyzeFileStats(spark, root, spec2,
      Seq("k"))
    val allLeafCount = SpecManifest.allLeaves(spark, root).size
    assert(analyzed == allLeafCount && allLeafCount >= 3,
      s"ANALYZE must cover all generations: $analyzed of $allLeafCount")
    // content intact after maintenance
    assert(SpecManifest.read(spark, root, spec2).count() == 22)
  }

  test("clustered OPTIMIZE is convergent under the layout marker: a " +
      "repeat with identical parameters rewrites nothing, a different " +
      "layout rewrites again, and a non-castable z-order column fails " +
      "loudly") {
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val root = Files.createTempDirectory("graft-clconv").toString
    val base = (0 until 400).map(i => (i.toLong, s"s$i", i % 2))
      .toDF("k", "s", "bk")
    Seq(0, 1).foreach { v =>
      PartitionedManifest.publishPartition(spark, root, "bk", v.toString,
        base.filter($"bk" === v).repartition(4))
    }
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    val (_, t1) = PartitionedManifest.compact(spark, root, "bk",
      clusterBy = Seq("k"), clusterFiles = 2)
    assert(t1.sorted == Seq("0", "1"), s"first clustered pass: $t1")
    val (_, t2) = PartitionedManifest.compact(spark, root, "bk",
      clusterBy = Seq("k"), clusterFiles = 2)
    assert(t2.isEmpty,
      s"identical repeat must select nothing (marker gate): $t2")
    val (_, t3) = PartitionedManifest.compact(spark, root, "bk",
      clusterBy = Seq("k"), clusterFiles = 3)
    assert(t3.sorted == Seq("0", "1"),
      s"a different layout must re-select: $t3")
    // new data (a MOR chain) re-qualifies the partition despite the
    // marker on its base
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Map("0" -> Seq((0L, "zz")).toDF("k", "s")))
    val (_, t4) = PartitionedManifest.compact(spark, root, "bk",
      clusterBy = Seq("k"), clusterFiles = 3)
    assert(t4 == Seq("0"), s"MOR-live partition must re-select: $t4")
    assert(PartitionedManifest.read(spark, root, "bk", "int")
      .count() == 400, "content intact through the layout passes")
    // z-order over a string column can never succeed: loud error, not
    // a silent three-retry no-op
    intercept[PartitionedManifest.LayoutValidationException] {
      PartitionedManifest.compact(spark, root, "bk",
        clusterBy = Seq("k", "s"), clusterFiles = 2, clusterZOrder = true)
    }
  }

  test("merge-on-read serving is bounded-width: K hot leaves plan " +
      "O(chain depth) scan nodes, not O(K), with resolution semantics " +
      "unchanged (delete-then-upsert layering, newest layer wins)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Bucket, Identity, PartField, PartitionSpec}
    def scanCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }.size
    val root = Files.createTempDirectory("graft-morwidth").toString
    val spec = PartitionSpec(Seq(
      PartField("g", "grp", Identity),
      PartField("b", "k", Bucket(4))))
    val base = (0 until 200).map(i =>
      (i.toLong, i * 1.0, s"g${i % 2}")).toDF("k", "v", "grp")
    SpecManifest.seed(spark, root, base, spec)
    val leaves = SpecManifest.leafKeys(spark, root, spec)
    assert(leaves.size == 8, s"expected 8 leaves: $leaves")
    // layer 1 on EVERY leaf: upsert one row + delete one row per leaf
    def keyIn(vs: Seq[String]): (Long, Long) = {
      val rows = SpecManifest.readLeaf(spark, root, spec, vs)
        .select($"k").orderBy($"k").limit(2).as[Long].collect()
      (rows(0), rows(1))
    }
    val batch1 = leaves.map { vs =>
      val (a, b) = keyIn(vs)
      vs -> ((a, b))
    }.toMap
    SpecManifest.commitMerge(spark, root, spec, Seq("k"),
      upserts = batch1.map { case (vs, (a, _)) =>
        vs -> Seq((a, -1.0, vs.head)).toDF("k", "v", "grp")
      },
      deletes = batch1.map { case (vs, (_, b)) =>
        vs -> Seq(b).toDF("k")
      })
    // layer 2 on half the leaves: delete the layer-1 upserted key, then
    // re-upsert the layer-1 deleted key (newest layer must win)
    val half = leaves.take(4)
    SpecManifest.commitMerge(spark, root, spec, Seq("k"),
      upserts = half.map { vs =>
        val (_, b) = batch1(vs)
        vs -> Seq((b, 99.0, vs.head)).toDF("k", "v", "grp")
      }.toMap,
      deletes = half.map { vs =>
        val (a, _) = batch1(vs)
        vs -> Seq(a).toDF("k")
      }.toMap)
    val df = SpecManifest.read(spark, root, spec)
    // width: 8 MOR leaves, depth ≤ 2 → scans bounded by depth, not K
    // (the per-leaf resolver planned ≥ 3 scans per leaf = 24+)
    val n = scanCount(df)
    assert(n <= 12, s"grouped MOR serving must stay bounded: $n scans")
    // semantics: per untouched-half leaf, a replaced and a removed key;
    // per touched-half leaf, the layer-2 flip wins
    val got = df.select($"k", $"v").as[(Long, Double)].collect().toMap
    leaves.foreach { vs =>
      val (a, b) = batch1(vs)
      if (half.contains(vs)) {
        assert(!got.contains(a), s"layer-2 delete of $a must win")
        assert(got(b) == 99.0, s"layer-2 re-upsert of $b must win")
      } else {
        assert(got(a) == -1.0, s"layer-1 upsert of $a must hold")
        assert(!got.contains(b), s"layer-1 delete of $b must hold")
      }
    }
    // 200 - 8 layer-1 deletes - 4 layer-2 deletes + 4 re-upserts
    assert(got.size == 192, s"row count: ${got.size}")
    // CDC across the MOR history stays leaf-footprint-bounded and
    // grouped: the diff between the two merge snapshots plans only
    // the touched half's leaves
    val snaps = SpecManifest.snapshots(spark, root)
    val ch = SpecManifest.changesBetween(spark, root, spec,
      snaps(snaps.size - 2), snaps.last)
    val chFiles = ch.inputFiles
    assert(chFiles.nonEmpty && half.forall(vs =>
        chFiles.exists(_.contains(s"/g=${vs(0)}/b=${vs(1)}/"))) &&
      leaves.drop(4).forall(vs =>
        !chFiles.exists(_.contains(s"/g=${vs(0)}/b=${vs(1)}/v"))),
      "CDC must plan only touched leaves")
  }

  test("snapshots/history inspection tables: operation labels, parent " +
      "chain, entry counts, and ref movements incl. rollback and " +
      "fast-forward (which writes no snapshot file)") {
    import spark.implicits._
    import graft.engine.{PartitionedManifest, SpecManifest}
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    val root = Files.createTempDirectory("graft-inspect").toString
    PartitionedManifest.seed(spark, root,
      (0 until 20).map(i => (i.toLong, i * 1.0, i % 2)).toDF("k", "v", "bk"),
      "bk")
    val s1 = PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map.empty, keepSnapshots = 10)
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Map("0" -> Seq((0L, -1.0)).toDF("k", "v")),
      keepSnapshots = 10)
    PartitionedManifest.compact(spark, root, "bk", keepSnapshots = 10)
    PartitionedManifest.tagSnapshot(spark, root, "t")
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      Map("1" -> Seq((101L, 5.0)).toDF("k", "v")), keepSnapshots = 10)
    val s5 = PartitionedManifest.rollback(spark, root, "bk", "t",
      keepSnapshots = 10)
    val sm = PartitionedManifest.snapshotsMetadata(spark, root)
      .orderBy($"snapshot")
      .as[PartitionedManifest.SnapshotMeta].collect()
    assert(sm.map(_.operation) === Array(Some("commit"), Some("merge"),
      Some("compact"), Some("commit"), Some("rollback")),
      s"operations: ${sm.map(_.operation).toSeq}")
    assert(sm.head.parent.isEmpty && (1 until sm.length).forall(i =>
        sm(i).parent.contains(sm(i - 1).snapshot)),
      s"parent chain: ${sm.map(r => r.snapshot -> r.parent).toSeq}")
    assert(sm.forall(_.entries == 2) && sm.forall(_.committedMs.isDefined),
      "every snapshot lists both partitions with a wall-clock")
    val hm = PartitionedManifest.historyMetadata(spark, root)
      .as[PartitionedManifest.HistoryMeta].collect()
    assert(hm.map(_.action) === Array("commit", "merge", "compact",
      "commit", "rollback"), s"history: ${hm.map(_.action).toSeq}")
    assert(hm.last.snapshot == s5 && hm.last.isCurrent &&
      !hm.init.exists(_.isCurrent), "only the newest movement is current")
    assert(hm.map(_.snapshot).head == s1)
    // spec layout: a branch commit writes a snapshot but NO pointer
    // movement; fastForward moves the pointer WITHOUT a new snapshot
    val r2 = Files.createTempDirectory("graft-inspect2").toString
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    SpecManifest.seed(spark, r2,
      (0 until 10).map(i => (i.toLong, s"a")).toDF("k", "grp"), spec)
    SpecManifest.createBranch(spark, r2, "audit")
    SpecManifest.commitSnapshotToBranch(spark, r2, spec,
      Map(Seq("a") -> Seq((100L, "a")).toDF("k", "grp")), "audit",
      keepSnapshots = 10)
    val head = SpecManifest.fastForward(spark, r2, spec, "audit")
    val sm2 = SpecManifest.snapshotsMetadata(spark, r2)
      .orderBy($"snapshot")
      .as[PartitionedManifest.SnapshotMeta].collect()
    assert(sm2.map(_.operation) === Array(Some("commit"),
      Some("branch-commit")), s"spec ops: ${sm2.map(_.operation).toSeq}")
    val hm2 = SpecManifest.historyMetadata(spark, r2)
      .as[PartitionedManifest.HistoryMeta].collect()
    assert(hm2.map(_.action) === Array("commit", "fast-forward"),
      s"spec history: ${hm2.map(_.action).toSeq}")
    assert(hm2.last.snapshot == head && hm2.last.isCurrent)
    // ON-DISK FORMAT of the shared snapshot log, pinned on both layouts
    // after a commit, a tag, a branch commit and a rollback: header
    // order, keys (`v` vs `g=…`), `_refs/<tag>` = `snap\n`,
    // `_branches/<b>` = `head<TAB>base\n`; only the single-column
    // layout records `#schema`
    def text(r: String, rel: String): String =
      new String(Files.readAllBytes(java.nio.file.Paths.get(r, rel)),
        java.nio.charset.StandardCharsets.UTF_8)
    def headerKeys(r: String, sn: String): Seq[String] =
      text(r, s"_snapshots/$sn").linesIterator.filter(_.startsWith("#"))
        .map(_.takeWhile(_ != '=')).toSeq
    PartitionedManifest.createBranch(spark, root, "wap")
    val pmBranch = PartitionedManifest.commitSnapshotToBranch(spark, root,
      "bk", Map("0" -> Seq((7L, 7.0)).toDF("k", "v")), "wap",
      keepSnapshots = 10)
    SpecManifest.tagSnapshot(spark, r2, "t2")
    val specBase = SpecManifest.currentSnapshot(spark, r2).get
    SpecManifest.createBranch(spark, r2, "wap")
    val specBranch = SpecManifest.commitSnapshotToBranch(spark, r2, spec,
      Map(Seq("a") -> Seq((200L, "a")).toDF("k", "grp")), "wap",
      keepSnapshots = 10)
    val specRb = SpecManifest.rollback(spark, r2, spec, "t2",
      keepSnapshots = 10)
    assert(headerKeys(root, s1) ===
      Seq("#committed_ms", "#operation", "#schema"))
    Seq(s5, pmBranch).foreach(sn => assert(headerKeys(root, sn) ===
      Seq("#committed_ms", "#operation", "#parent", "#schema"), sn))
    Seq(specBranch, specRb).foreach(sn => assert(headerKeys(r2, sn) ===
      Seq("#committed_ms", "#operation", "#parent"), sn))
    assert(text(root, s"_snapshots/$s5").contains("#operation=rollback\n"))
    assert(PartitionedManifest.snapshotMapping(spark, root, s5)
      .map(_._1) === Seq("0", "1"))
    assert(SpecManifest.snapshotMapping(spark, r2, specRb)
      .map(_._1) === Seq("g=a"))
    assert(text(root, s"_snapshots/$pmBranch").linesIterator
      .filterNot(_.startsWith("#")).forall(_.matches("[01]\tv\\d{6}-.*")))
    assert(text(root, "_refs/t") == sm(2).snapshot + "\n")
    assert(text(r2, "_refs/t2") == specBase + "\n")
    assert(text(root, "_branches/wap") == s"$pmBranch\t$s5\n")
    assert(text(r2, "_branches/wap") == s"$specBranch\t$specBase\n")
    // ON-DISK FORMAT of a merge-on-read commit with upserts and deletes,
    // on both layouts: `_mor.tsv` is exactly `#keys=<keys>\nbase=<the
    // previous version>\n`, the delta under `_delta/{upserts,deletes}`
    import scala.jdk.CollectionConverters._
    def pinMor(keyRoot: String, keys: String)(merge: => String): Unit = {
      val before = graft.engine.ManifestTable.currentVersion(keyRoot).get
      merge
      val live = graft.engine.ManifestTable.currentVersion(keyRoot).get
      assert(before.matches("v\\d{6}-[0-9a-f]{8}"), before)
      assert(text(keyRoot, s"$live/_mor.tsv") ==
        s"#keys=$keys\nbase=$before\n", text(keyRoot, s"$live/_mor.tsv"))
      Seq("upserts", "deletes").foreach { sub =>
        val d = java.nio.file.Paths.get(keyRoot, live, "_delta", sub)
        val parquet = Files.list(d).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(parquet > 0, s"no delta parquet under $d")
      }
    }
    pinMor(s"$root/bk=1", "k,v")(PartitionedManifest.commitMerge(spark,
      root, "bk", Seq("k", "v"),
      upserts = Map("1" -> Seq((1L, 1.5)).toDF("k", "v")),
      deletes = Map("1" -> Seq((3L, 3.0)).toDF("k", "v")),
      keepSnapshots = 10))
    pinMor(s"$r2/g=a", "k,grp")(SpecManifest.commitMerge(spark, r2, spec,
      Seq("k", "grp"),
      upserts = Map(Seq("a") -> Seq((300L, "a")).toDF("k", "grp")),
      deletes = Map(Seq("a") -> Seq((1L, "a")).toDF("k", "grp")),
      keepSnapshots = 10))
  }

  test("a delta chain refuses a differently-keyed merge: resolution " +
      "applies the TOP layer's keys to every layer, so mixed-key " +
      "chains would silently mis-resolve") {
    import spark.implicits._
    import graft.engine.PartitionedManifest
    val root = Files.createTempDirectory("graft-mixedkeys").toString
    PartitionedManifest.seed(spark, root,
      (0 until 10).map(i => (i.toLong, i * 10L, 0)).toDF("k", "v", "bk"),
      "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Map("0" -> Seq((0L, -1L)).toDF("k", "v")))
    val e = intercept[IllegalArgumentException] {
      PartitionedManifest.commitMerge(spark, root, "bk", Seq("v"),
        deletes = Map("0" -> Seq(20L).toDF("v")))
    }
    assert(e.getMessage.contains("keyed by"), e.getMessage)
    // same keys layer fine; fold resets the chain and ANY keys work
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Map("0" -> Seq((1L, -2L)).toDF("k", "v")))
    PartitionedManifest.compact(spark, root, "bk")
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("v"),
      deletes = Map("0" -> Seq(20L).toDF("v")))
    val got = PartitionedManifest.read(spark, root, "bk", "int")
      .select($"k", $"v").as[(Long, Long)].collect().toMap
    assert(got(0L) == -1L && got(1L) == -2L && !got.values.exists(_ == 20L)
      && got.size == 9, s"content after fold + re-keyed merge: $got")
  }

  test("racing merge committers: the delta stages with NO lock held, " +
      "a commit landing in the race window becomes the chain base — " +
      "both land, neither loses rows, newest layer wins per key") {
    import spark.implicits._
    import graft.engine.{ManifestTable, PartitionedManifest, SpecManifest}
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    // single-column layout
    val root = Files.createTempDirectory("graft-morrace").toString
    PartitionedManifest.seed(spark, root,
      (0 until 10).map(i => (i.toLong, i * 1.0, 0)).toDF("k", "v", "bk"),
      "bk")
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    var nested = false
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Map("0" -> Seq((0L, 100.0)).toDF("k", "v")),
      onBeforeLock = () => if (!nested) {
        nested = true
        // B lands ENTIRELY inside A's race window (A staged, not yet
        // locked): B's layer becomes A's chain base
        PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
          upserts = Map("0" ->
            Seq((0L, 999.0), (1L, 200.0)).toDF("k", "v")))
      })
    val got = PartitionedManifest.read(spark, root, "bk", "int")
      .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(got(0L) == 100.0, "A committed after B: A's row wins on k=0")
    assert(got(1L) == 200.0, "B's non-conflicting row survives")
    assert(got.size == 10, s"neither commit lost rows: ${got.size}")
    // two layers over the seed base: the live dir is MOR, and its
    // base (B's layer) is MOR too
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def morBase(dir: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$root/bk=0/$dir/_mor.tsv")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val t = try new String(in.readAllBytes()) finally in.close()
        t.linesIterator.find(_.startsWith("base="))
          .map(_.stripPrefix("base=").trim)
      }
    }
    val live = ManifestTable.currentVersion(s"$root/bk=0").get
    val bLayer = morBase(live)
    assert(bLayer.isDefined, "A's layer must be MOR")
    assert(morBase(bLayer.get).isDefined, "B's layer is A's chain base")
    assert(morBase(morBase(bLayer.get).get).isEmpty, "seed base is pure")
    // composite-spec layout
    val r2 = Files.createTempDirectory("graft-morrace2").toString
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    SpecManifest.seed(spark, r2,
      (0 until 10).map(i => (i.toLong, i * 1.0, "a")).toDF("k", "v", "grp"),
      spec)
    var nested2 = false
    SpecManifest.commitMerge(spark, r2, spec, Seq("k"),
      upserts = Map(Seq("a") -> Seq((0L, 100.0, "a")).toDF("k", "v", "grp")),
      onBeforeLock = () => if (!nested2) {
        nested2 = true
        SpecManifest.commitMerge(spark, r2, spec, Seq("k"),
          upserts = Map(Seq("a") ->
            Seq((0L, 999.0, "a"), (1L, 200.0, "a")).toDF("k", "v", "grp")))
      })
    val got2 = SpecManifest.read(spark, r2, spec)
      .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(got2(0L) == 100.0 && got2(1L) == 200.0 && got2.size == 10,
      s"spec race outcome wrong: $got2")
  }

  test("a schema-changing commit landing in the merge staging window " +
      "fails the merge loudly on the spec layout (never adopts a " +
      "stale-shaped delta)") {
    import spark.implicits._
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}
    val root = Files.createTempDirectory("graft-morschemarace").toString
    val spec = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    SpecManifest.seed(spark, root,
      (0 until 6).map(i => (i.toLong, i * 1.0, "a")).toDF("k", "v", "grp"),
      spec)
    val e = intercept[IllegalArgumentException] {
      SpecManifest.commitMerge(spark, root, spec, Seq("k"),
        upserts = Map(Seq("a") ->
          Seq((0L, 100.0, "a")).toDF("k", "v", "grp")),
        onBeforeLock = () =>
          // a WIDER-schema replacement lands entirely inside the race
          // window: the staged delta's shape is now stale
          SpecManifest.commitSnapshot(spark, root, spec, Map(Seq("a") ->
            (0 until 6).map(i => (i.toLong, i * 1.0, "x", "a"))
              .toDF("k", "v", "extra", "grp"))))
    }
    assert(e.getMessage.contains("restage against the current schema"),
      e.getMessage)
    // the refused merge left no stale state: a restaged merge against
    // the NEW shape lands fine
    SpecManifest.commitMerge(spark, root, spec, Seq("k"),
      upserts = Map(Seq("a") ->
        Seq((0L, 100.0, "y", "a")).toDF("k", "v", "extra", "grp")))
    val got2 = SpecManifest.read(spark, root, spec)
      .select($"k", $"extra").as[(Long, String)].collect().toMap
    assert(got2(0L) == "y" && got2(1L) == "x" && got2.size == 6,
      s"restaged merge content: $got2")
  }

  test("hidden partitioning projects RANGES through order-preserving " +
      "transforms, IN-LISTS through any transform, and ORs of " +
      "derivable branches; bucket ranges and mixed ORs stay " +
      "conservative") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, lit}
    import graft.engine.SpecManifest
    import graft.engine.SpecManifest.{Bucket, PartField, PartitionSpec, Truncate, Year}
    def filesOf(df: DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray
            .map(_.filePath.toString).toSeq
      }.flatten
    val root = Files.createTempDirectory("graft-hpr").toString
    val spec = PartitionSpec(Seq(
      PartField("y", "d", Year),
      PartField("b", "k", Bucket(4))))
    val base = (0 until 400).map { i =>
      (i.toLong, java.sql.Date.valueOf(s"${1994 + i % 4}-0${1 + i % 9}-15"),
        i * 1.0)
    }.toDF("k", "d", "v")
    SpecManifest.seed(spark, root, base, spec)
    def read() = SpecManifest.read(spark, root, spec)
    // RANGE on the year-transformed date: a bare BETWEEN prunes to the
    // matching year's leaves (the single most common 100 TB predicate)
    val ranged = read().where(col("d") >= lit("1995-01-01").cast("date") &&
      col("d") <= lit("1995-12-31").cast("date"))
    val rf = filesOf(ranged)
    assert(rf.nonEmpty && rf.forall(_.contains("/y=1995/")),
      s"year-range projection must prune to y=1995: ${rf.take(3)}")
    assert(ranged.count() == base.filter(
      $"d".between("1995-01-01", "1995-12-31")).count())
    // IN-LIST on the bucketed source column: prunes to the derived
    // bucket SET across all years
    val inKeys = Seq(3L, 7L)
    val buckets = inKeys.map(ck => spark.range(1)
      .select(spec.fields(1).derive(lit(ck)).as("v")).head().getString(0))
      .toSet
    val inDf = read().where(col("k").isin(inKeys: _*))
    val inF = filesOf(inDf)
    assert(inF.nonEmpty && inF.forall(f =>
        buckets.exists(b => f.contains(s"/b=$b/"))),
      s"IN-list must prune to derived buckets $buckets: ${inF.take(3)}")
    assert(inDf.count() == 2)
    // RANGE on the BUCKET source derives nothing (hash is
    // order-destroying): all buckets planned
    val bw = filesOf(read().where(col("k") >= 100L && col("k") <= 101L))
    assert(Seq("0", "1", "2", "3").forall(b =>
        bw.exists(_.contains(s"/b=$b/"))),
      "a range on a bucketed source must not prune buckets")
    // OR of two DERIVABLE branches projects to the derived union:
    // (year >= 1997) OR (bucket = h(3)) — pre-1997 leaves outside
    // bucket h(3) are pruned
    val b3 = spark.range(1)
      .select(spec.fields(1).derive(lit(3L)).as("v")).head().getString(0)
    val orF = filesOf(read().where(
      (col("d") >= lit("1997-01-01").cast("date")) || col("k") === 3L))
    assert(orF.nonEmpty && orF.forall(f =>
        f.contains("/y=1997/") || f.contains(s"/b=$b3/")),
      s"a derivable OR must prune to the union: ${orF.take(3)}")
    // OR with an UNDERIVABLE branch derives nothing (conservative)
    val orU = filesOf(read().where(
      (col("d") >= lit("1997-01-01").cast("date")) || col("k") % 2 === 0L))
    assert(Seq("1994", "1995", "1996", "1997").forall(y =>
        orU.exists(_.contains(s"/y=$y/"))),
      "an OR with an underivable branch must stay conservative")
    // TRUNCATE range: numeric compare through the bigint cast of the
    // partition value (string compare would break across digit counts)
    val r2 = Files.createTempDirectory("graft-hpr2").toString
    val spec2 = PartitionSpec(Seq(PartField("t", "k", Truncate(100L))))
    SpecManifest.seed(spark, r2,
      (0 until 1200).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), spec2)
    val tr = SpecManifest.read(spark, r2, spec2)
      .where(col("k") >= 150L && col("k") <= 249L)
    val tf = filesOf(tr)
    assert(tf.nonEmpty && tf.forall(f =>
        f.contains("/t=100/") || f.contains("/t=200/")),
      s"truncate range must keep exactly the covering ranges: ${tf.take(3)}")
    assert(tr.count() == 100)
    // ... and digit-count safety: k >= 950 must still plan t=1000+
    val tf2 = filesOf(SpecManifest.read(spark, r2, spec2)
      .where(col("k") >= 950L))
    assert(tf2.exists(_.contains("/t=1000/")) &&
      tf2.exists(_.contains("/t=1100/")) &&
      tf2.exists(_.contains("/t=900/")) &&
      !tf2.exists(_.contains("/t=800/")),
      s"numeric-range compare must survive digit-count changes: " +
        s"${tf2.take(5)}")
  }

  test("zone maps skip files on IN-list predicates over analyzed " +
      "clustered layouts; unanalyzed versions never skip") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    import graft.engine.PartitionedManifest
    def filesOf(df: DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray
            .map(_.filePath.toString).toSeq
      }.flatten
    val root = Files.createTempDirectory("graft-zmin").toString
    val base = (0 until 800).map(i => (i.toLong, i * 1.0, i % 2))
      .toDF("k", "v", "bk")
    // range-clustered files: 4 per partition, disjoint k spans
    Seq(0, 1).foreach { p =>
      PartitionedManifest.publishPartition(spark, root, "bk", p.toString,
        base.filter($"bk" === p).repartitionByRange(4, col("k"))
          .sortWithinPartitions("k"))
    }
    PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
    PartitionedManifest.syncCatalogTable(spark, root, "zmin_t", "bk", "int")
    // UNanalyzed: an IN-list keeps every file
    val before = filesOf(spark.table("zmin_t")
      .where(col("k").isin(10L, 20L)))
    assert(before.size == 8, s"unanalyzed must keep all: ${before.size}")
    PartitionedManifest.analyzeFileStats(spark, root, "bk", Seq("k"))
    PartitionedManifest.syncCatalogTable(spark, root, "zmin_t", "bk", "int")
    // analyzed: both values live in the lowest span — at most one file
    // per partition survives
    val after = filesOf(spark.table("zmin_t")
      .where(col("k").isin(10L, 20L)))
    assert(after.nonEmpty && after.size <= 2,
      s"IN-list must skip non-intersecting files: kept ${after.size}")
    assert(spark.table("zmin_t").where(col("k").isin(10L, 20L))
      .count() == 2, "skipping is IO elision only")
  }

}
