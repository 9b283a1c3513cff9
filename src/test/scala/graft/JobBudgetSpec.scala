package graft

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{PartitionedManifest, SpecManifest}

/** Job budgets: the exact Spark job count of each SQL DML statement, read,
  * CDC scan and compaction on a small hidden-partition table — the shape
  * of the benchmark's `table_dml` workload, `PARTITIONED BY (years(d),
  * bucket(2, k))` with about 1,300 rows in 2 leaves. A change that adds a
  * job to any of them fails here, before it reaches a benchmark. The
  * single-column layout's paths that no benchmark workload runs are
  * pinned the same way. */
class JobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.session

  // a catalog of its own: a catalog's warehouse binds when it first loads
  private val Catalog = "gbudget"
  private val Table = s"$Catalog.db.dml"
  private lazy val wh: Path = {
    val dir = Files.createTempDirectory("graft-jobbudget")
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", dir.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.db")
    dir
  }

  override def afterAll(): Unit = {
    try spark.sql(s"DROP TABLE IF EXISTS $Table")
    finally {
      val s = Files.walk(wh)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
    super.afterAll()
  }

  /** (k, v, unix date, s) */
  type R = (Long, Double, Int, String)

  /** Runs `body`, recording its exact job count as `jobs(op)`. */
  private def counted[T](jobs: scala.collection.mutable.Map[String, Int],
      op: String)(body: => T): T = {
    val (out, n) = JobCount.of(spark)(body)
    jobs(op) = n
    out
  }

  test("per-statement job budgets on a 2-leaf hidden-partition table; " +
      "every MERGE job names its statement") {
    import spark.implicits._
    wh
    val rnd = new scala.util.Random(11)
    def money(): Double = math.round(rnd.nextDouble() * 5e7) / 100.0
    // 2001-01-01 .. 2001-12-27: one year, two buckets
    val seed: Seq[R] = (0 until 1300).map(i =>
      (1000L + 3 * i, money(), 11323 + (i * 7) % 361, if (i % 3 == 0) "F" else "O"))
    def view(rows: Seq[R], name: String): Unit =
      rows.toDF("k", "v", "dd", "s")
        .selectExpr("k", "v", "date_from_unix_date(dd) AS d", "s")
        .createOrReplaceTempView(name)
    spark.sql(s"""CREATE TABLE $Table (k BIGINT, v DOUBLE, d DATE, s STRING)
      PARTITIONED BY (years(d), bucket(2, k))""")
    view(seed, "budget_seed")
    spark.sql(s"INSERT INTO $Table SELECT k, v, d, s FROM budget_seed")
    spark.sql(s"CALL $Catalog.system.tag('db.dml', 'budget_start')")
    val root = wh.resolve("db").resolve("dml").toString
    val spec = SpecManifest.readSpec(spark, root)
    val start = SpecManifest.currentSnapshot(spark, root).get
    assert(Files.list(wh.resolve("db/dml/d_year=2001")).count() == 2,
      "the seed must fill exactly two leaves")

    val model = scala.collection.mutable.Map(seed.map(r => r._1 -> r): _*)
    val maxKey = seed.map(_._1).max
    val ins = (1 to 200).map(i => (maxKey + i, money(), 11323 + i, "N"))
    val mrg = rnd.shuffle(seed).take(250).map(r => r.copy(_2 = money())) ++
      (1 to 50).map(i => (maxKey + 200 + i, money(), 11330 + i, "M"))
    view(ins, "budget_ins")
    view(mrg, "budget_mrg")
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def run[T](op: String)(body: => T): T = counted(jobs, op)(body)
    run("insert")(spark.sql(s"INSERT INTO $Table SELECT k, v, d, s FROM budget_ins"))
    ins.foreach(r => model(r._1) = r)
    val (_, mergeJobs) = JobCount.described(spark)(spark.sql(
      s"""MERGE INTO $Table t USING budget_mrg s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"""))
    jobs("merge") = mergeJobs.size
    mrg.foreach(r => model(r._1) = model.get(r._1).fold(r)(o => o.copy(_2 = r._2)))
    run("update")(spark.sql(s"UPDATE $Table SET v = v + 1.5 WHERE k % 50 = 7"))
    model.keys.filter(_ % 50 == 7).foreach(k => model(k) = model(k).copy(_2 = model(k)._2 + 1.5))
    run("delete")(spark.sql(s"DELETE FROM $Table WHERE k % 61 = 5"))
    model.keys.filter(_ % 61 == 5).toSeq.foreach(model.remove)

    val cols = "k, v, unix_date(d) AS dd, s"
    def rows(sql: String): Seq[R] = spark.sql(sql).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3))).sorted
    val want = model.values.toSeq.sorted
    assert(run("read.current")(rows(s"SELECT $cols FROM $Table")) == want)
    assert(run("read.filtered")(rows(s"""SELECT $cols FROM $Table
        WHERE d >= DATE'2001-01-01' AND d < DATE'2001-04-01' AND k % 4 = 1""")) ==
      want.filter(r => r._3 < 11413 && r._1 % 4 == 1))
    assert(run("read.as_of")(rows(
      s"SELECT $cols FROM $Table VERSION AS OF 'budget_start'")) == seed.sorted)
    val end = SpecManifest.currentSnapshot(spark, root).get
    val changes = run("cdc")(SpecManifest.changesBetween(spark, root, spec, start, end)
      .selectExpr("k", "v", "unix_date(d)", "s", "_change_type").collect().toSeq
      .map(r => ((r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)), r.getString(4))))
    val seedSet = seed.toSet
    assert(changes.sorted == (seed.filterNot(r => model.get(r._1).contains(r))
      .map(_ -> "delete") ++ want.filterNot(seedSet).map(_ -> "insert")).sorted)
    run("compact")(spark.sql(s"CALL $Catalog.system.compact('db.dml')"))
    assert(rows(s"SELECT $cols FROM $Table") == want)

    val budget = Seq("insert" -> 2, "merge" -> 10, "update" -> 7, "delete" -> 5,
      "read.current" -> 2, "read.filtered" -> 2, "read.as_of" -> 1, "cdc" -> 3,
      "compact" -> 3)
    assert(jobs.toSeq == budget, s"jobs per operation (budget $budget)")
    assert(mergeJobs.nonEmpty && mergeJobs.forall(_ == s"graft MERGE into $Table"),
      s"MERGE job descriptions: $mergeJobs")
  }

  test("single-column layout: exact job counts of seed, commit, reads, " +
      "CDC, catalog sync and resync, merge-on-read and compaction") {
    import spark.implicits._
    val root = Files.createDirectories(wh.resolve("single")).toString
    val table = "graft_jobpin_tbl"
    try {
      // (k, v, bk): 60 rows over 3 partitions
      var model: Map[Long, (Long, Double, Int)] =
        (0 until 60).map(i => i.toLong -> ((i.toLong, i * 1.5, i % 3))).toMap
      val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      def run[T](op: String)(body: => T): T = counted(jobs, op)(body)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Int)] =
        df.select($"k", $"v", $"bk").as[(Long, Double, Int)].collect().toSeq.sorted
      def want: Seq[(Long, Double, Int)] = model.values.toSeq.sorted

      run("seed")(PartitionedManifest.seed(spark, root,
        model.values.toSeq.toDF("k", "v", "bk"), "bk"))
      val s0 = PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)
      // rewrite partitions 0 and 1 in one commit
      val upd = model.values.filter(_._3 < 2).map(r => r.copy(_2 = r._2 + 100)).toSeq
      upd.foreach(r => model += r._1 -> r)
      val s1 = run("commitSnapshot")(PartitionedManifest.commitSnapshot(
        spark, root, "bk", upd.groupBy(_._3).map { case (b, rs) =>
          b.toString -> rs.map(r => (r._1, r._2)).toDF("k", "v") }))
      assert(run("read")(rows(PartitionedManifest.read(spark, root, "bk", "int"))) == want)
      assert(run("readSnapshot")(rows(PartitionedManifest.readSnapshot(
        spark, root, "bk", "int"))) == want)
      val cdc = run("changesBetween")(PartitionedManifest.changesBetween(
        spark, root, "bk", "int", s0, s1).select($"k", $"_change_type")
        .as[(Long, String)].collect().toSeq)
      assert(cdc.count(_._2 == "insert") == upd.size &&
        cdc.count(_._2 == "delete") == upd.size, s"cdc: $cdc")
      run("syncCatalogTable")(PartitionedManifest.syncCatalogTable(
        spark, root, table, "bk", "int"))
      assert(rows(spark.table(table)) == want)
      // merge-on-read: upsert two keys of partition 2, delete one
      val p2 = model.values.filter(_._3 == 2).toSeq.sortBy(_._1)
      val ups = p2.take(2).map(r => r.copy(_2 = -r._2))
      val gone = p2(2)._1
      run("commitMerge")(PartitionedManifest.commitMerge(spark, root, "bk",
        Seq("k"), upserts = Map("2" -> ups.map(r => (r._1, r._2)).toDF("k", "v")),
        deletes = Map("2" -> Seq(gone).toDF("k"))))
      ups.foreach(r => model += r._1 -> r)
      model -= gone
      assert(run("read.mor")(rows(PartitionedManifest.read(spark, root, "bk", "int"))) == want)
      val (_, compacted) = run("compact")(PartitionedManifest.compact(spark, root, "bk"))
      assert(compacted == Seq("2"), s"compacted: $compacted")
      assert(rows(PartitionedManifest.read(spark, root, "bk", "int")) == want)
      // the catalog diff branch: partition 2 moved, 0 and 1 did not
      run("syncCatalogTable.resync")(PartitionedManifest.syncCatalogTable(
        spark, root, table, "bk", "int"))
      assert(rows(spark.table(table)) == want)

      val pins = Seq("seed" -> 2, "commitSnapshot" -> 2, "read" -> 1,
        "readSnapshot" -> 1, "changesBetween" -> 2, "syncCatalogTable" -> 0,
        "commitMerge" -> 4, "read.mor" -> 2, "compact" -> 3,
        "syncCatalogTable.resync" -> 0)
      assert(jobs.toSeq == pins, s"jobs per operation (pinned $pins)")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
