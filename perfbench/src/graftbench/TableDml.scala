package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.engine.SpecManifest

/** Seeded SQL DML on a graft table with hidden partitions, through
  * `spark.sql` on a GraftCatalog: each cycle seeds the table from
  * `orders`, runs INSERT, MERGE INTO, UPDATE and DELETE, reads the
  * current, a filtered and a `VERSION AS OF` snapshot and the cycle's
  * CDC changes, and ends with `CALL ... compact`. Every read is compared
  * with a model of the same operations kept in plain Scala collections.
  * The table is dropped at the end of the cycle. */
final class TableDml extends Workload {
  val name = "table_dml"

  val Table = "gsql.db.dml"
  /** orders of the last fixture year, 2001: 1 year x 2 buckets = 2 leaves */
  val SeedFilter = "o_orderdate >= TIMESTAMP_NTZ'2001-01-01 00:00:00'"
  val InsertRows = 200
  val MergeUpdates = 250
  val MergeInserts = 50

  /** (k, v, unix date, s) */
  type R = (Long, Double, Int, String)
  private var seedRows: Map[Long, R] = Map.empty
  private val stored = mutable.Map.empty[Int, Long]
  /** data files a commit wrote */
  private final case class Layout(files: Int, bytes: Long)
  private val commits = mutable.Map.empty[Int, Seq[Layout]]
  private val morBefore = mutable.Map.empty[Int, Int]

  def prepare(ctx: Ctx): Unit = {
    seedRows = ctx.spark.read.parquet(s"${ctx.fixtures}/orders.parquet").where(SeedFilter)
      .selectExpr("o_orderkey", "o_totalprice", "unix_date(CAST(o_orderdate AS DATE))", "o_orderstatus")
      .collect().map(r => r.getLong(0) -> ((r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)))).toMap
    ctx.spark.sql("CREATE NAMESPACE IF NOT EXISTS gsql.db")
    // the program's set-up: the table created, seeded and tagged as each
    // cycle does it before its timed operations
    seedTable(ctx)
    dropTable(ctx)
  }

  /** Create the table, seed it from the 2001 orders and tag the seeded
    * snapshot `cycle_start`. */
  private def seedTable(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    Main.deleteTree(root(ctx))
    spark.sql(s"""CREATE TABLE $Table (k BIGINT, v DOUBLE, d DATE, s STRING)
      PARTITIONED BY (years(d), bucket(2, k))""")
    spark.read.parquet(s"${ctx.fixtures}/orders.parquet").createOrReplaceTempView("bench_orders")
    spark.sql(s"""INSERT INTO $Table SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE),
      o_orderstatus FROM bench_orders WHERE $SeedFilter""")
    spark.sql(s"CALL gsql.system.tag('db.dml', 'cycle_start')")
  }

  private def dropTable(ctx: Ctx): Unit = {
    ctx.spark.sql(s"DROP TABLE $Table")
    Seq("bench_orders", "bench_ins", "bench_mrg").foreach(ctx.spark.catalog.dropTempView)
    Main.deleteTree(root(ctx))
  }

  private def root(ctx: Ctx): Path = Paths.get(ctx.spark.conf.get("spark.sql.catalog.gsql.warehouse"), "db", "dml")

  private def walk(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  /** Parquet data files under the table root, with their sizes. */
  private def dataFiles(root: Path): Map[Path, Long] =
    walk(root).filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(f => f -> Files.size(f)).toMap

  /** Leaves whose live version carries a merge-on-read delta chain. */
  private def morLeaves(root: Path): Int =
    walk(root).filter(_.getFileName.toString == "_mor.tsv").count { m =>
      val version = m.getParent
      graft.engine.ManifestTable.currentVersion(version.getParent.toString)
        .contains(version.getFileName.toString)
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[R] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)))

  def cycle(ctx: Ctx, c: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rng = new scala.util.Random(ctx.seed * 1000003L + c)
    val dir = root(ctx)
    val keys = seedRows.keys.toVector.sorted
    val maxKey = keys.last
    def day(): Int = 11323 + rng.nextInt(212) // 2001-01-01 .. 2001-07-31
    def money(): Double = math.round(rng.nextDouble() * 50000000.0) / 100.0

    seedTable(ctx) // untimed
    val spec = SpecManifest.readSpec(spark, dir.toString)
    val startSnap = SpecManifest.currentSnapshot(spark, dir.toString).get

    // the operations' inputs, and the model they must produce
    val model = mutable.Map(seedRows.toSeq: _*)
    val ins = (1 to InsertRows).map(i => (maxKey + i, money(), day(), "N"))
    val picked = rng.shuffle(keys).take(MergeUpdates)
    val mrg = picked.map(k => (k, money(), seedRows(k)._3, seedRows(k)._4)) ++
      (1 to MergeInserts).map(i => (maxKey + InsertRows + i, money(), day(), "M"))
    val updMod = rng.nextInt(50)
    val delMod = rng.nextInt(61)
    Seq(ins -> "bench_ins", mrg -> "bench_mrg").foreach { case (rs, view) =>
      rs.toDF("k", "v", "dd", "s").selectExpr("k", "v", "date_from_unix_date(dd) AS d", "s")
        .createOrReplaceTempView(view)
    }
    val layouts = mutable.ArrayBuffer.empty[Layout]
    def commit(op: String, sql: String)(apply: => Unit): Unit = {
      val before = if (ctx.tracer.isDefined) dataFiles(dir) else Map.empty[Path, Long]
      ctx.op(op)(spark.sql(sql).collect())
      if (ctx.tracer.isDefined) {
        val written = dataFiles(dir) -- before.keys
        layouts += Layout(written.size, written.values.sum)
      }
      apply
    }
    commit("insert", s"INSERT INTO $Table SELECT k, v, d, s FROM bench_ins") {
      ins.foreach(r => model(r._1) = r)
    }
    commit("merge", s"""MERGE INTO $Table t USING bench_mrg s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *""") {
      mrg.foreach(r => model(r._1) = model.get(r._1).fold(r)(o => o.copy(_2 = r._2)))
    }
    commit("update", s"UPDATE $Table SET v = v + 1.5 WHERE k % 50 = $updMod") {
      model.keys.filter(_ % 50 == updMod).foreach(k => model(k) = model(k).copy(_2 = model(k)._2 + 1.5))
    }
    commit("delete", s"DELETE FROM $Table WHERE k % 61 = $delMod") {
      model.keys.filter(_ % 61 == delMod).toSeq.foreach(model.remove)
    }
    val cols = "k, v, unix_date(d) AS dd, s"
    val expectCurrent = model.values.toSeq.sorted
    ctx.op("read.current")(rows(spark.sql(s"SELECT $cols FROM $Table")))
      .foreach(got => ctx.check(got.sorted == expectCurrent, s"current snapshot differs (${got.size} vs ${expectCurrent.size} rows)"))
    val (lo, hi) = (11323, 11413) // 2001-01-01 .. 2001-04-01
    ctx.op("read.filtered")(rows(spark.sql(
      s"SELECT $cols FROM $Table WHERE d >= DATE'2001-01-01' AND d < DATE'2001-04-01' AND k % 4 = 1")))
      .foreach { got =>
        val want = expectCurrent.filter(r => r._3 >= lo && r._3 < hi && r._1 % 4 == 1)
        ctx.check(got.sorted == want, s"filtered snapshot differs (${got.size} vs ${want.size} rows)")
      }
    ctx.op("read.as_of")(rows(spark.sql(s"SELECT $cols FROM $Table VERSION AS OF 'cycle_start'")))
      .foreach(got => ctx.check(got.sorted == seedRows.values.toSeq.sorted, "VERSION AS OF snapshot differs from the seed"))
    // the cycle's changes, as the multiset difference of the two states
    val endSnap = SpecManifest.currentSnapshot(spark, dir.toString).get
    ctx.op("cdc")(SpecManifest.changesBetween(spark, dir.toString, spec, startSnap, endSnap)
      .selectExpr("k", "v", "unix_date(d) AS dd", "s", "_change_type").collect().toSeq
      .map(r => ((r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)), r.getString(4))))
      .foreach { got =>
        val removed = seedRows.values.filterNot(r => model.get(r._1).contains(r)).map(_ -> "delete")
        val added = model.values.filterNot(r => seedRows.get(r._1).contains(r)).map(_ -> "insert")
        val want = (removed ++ added).toSeq.sorted
        ctx.check(got.sorted == want, s"CDC changes differ (${got.size} vs ${want.size} rows)")
      }
    morBefore(c) = morLeaves(dir)
    commit("compact", "CALL gsql.system.compact('db.dml')")(())
    val after = rows(spark.sql(s"SELECT $cols FROM $Table"))
    ctx.check(after.sorted == expectCurrent, "compaction changed the table's content")
    ctx.check(morLeaves(dir) == 0, "merge-on-read leaves left after compaction")
    commits(c) = layouts.toSeq
    stored(c) = Main.treeBytes(dir)
    dropTable(ctx)
  }

  def storedBytes(c: Int): Long = stored.getOrElse(c, 0L)

  def opFigures(ctx: Ctx, cycles: Seq[Int]): Seq[Metric] = {
    def med(ops: String*) = Stats.median(ctx.samples.filter(s => cycles.contains(s.cycle) &&
      ops.contains(s.op) && !s.failed).map(_.wallMs).toSeq)
    Seq(Metric("insert_ms", med("insert"), "ms"), Metric("merge_ms", med("merge"), "ms"),
      Metric("update_ms", med("update"), "ms"), Metric("delete_ms", med("delete"), "ms"),
      Metric("read_ms", med("read.current", "read.filtered", "read.as_of"), "ms"),
      Metric("cdc_ms", med("cdc"), "ms"), Metric("compact_ms", med("compact"), "ms"))
  }

  def layerMetrics(ctx: Ctx, cycles: Seq[Int]): Map[String, Double] = ctx.tracer match {
    case None => Map.empty
    case Some(t) =>
      def med(f: Int => Double) = Stats.median(cycles.map(f))
      val perCommit = Seq("insert", "merge", "update", "delete", "compact").map { op =>
        s"manifest.jobs_per_commit.$op" -> med(t.cost(_, _ == op).jobs.toDouble)
      }
      def ls(c: Int) = commits.getOrElse(c, Nil)
      perCommit.toMap ++ Map(
        "manifest.files_per_commit" -> med(c => Stats.mean(ls(c).map(_.files.toDouble))),
        "manifest.mb_per_commit" -> med(c => Stats.mean(ls(c).map(_.bytes / 1048576.0))),
        "manifest.mor_leaves" -> med(morBefore.getOrElse(_, 0).toDouble),
        "manifest.jobs_per_cdc" -> med(t.cost(_, _ == "cdc").jobs.toDouble))
  }
}
