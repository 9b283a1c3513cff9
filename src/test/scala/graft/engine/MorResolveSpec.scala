package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SpecManifest.{Identity, PartField, PartitionSpec}

/** Merge-on-read resolution against a plain-Scala model, on both table
  * layouts: [[MergeOnRead.resolveMorGrouped]] over depth-1 chains (no
  * newest-layer window), a mixed-depth group and depth-2 chains (the
  * window), keyed and full-row-keyed; and a SQL MERGE whose clause
  * claims one copy of a duplicated target key. */
class MorResolveSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session

  /** (k, v, s, grp); the leaf is `g=<grp>` on both layouts */
  type R = (Long, Option[Double], String, String)
  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("v", DoubleType), StructField("s", StringType),
    StructField("grp", StringType)))
  private def df(rows: Seq[R]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2.orNull, r._3, r._4)), 1),
    schema)

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** One table of either layout, partitioned by `grp` into `g=<grp>`. */
  private abstract class Layout(val name: String) {
    val dir: Path = Files.createTempDirectory(s"graft-morres-$name")
    val root: String = dir.toString
    val store: MergeOnRead
    def seed(rows: Seq[R]): Unit
    /** the commit key of leaf `g=<g>` */
    def key(g: String): String
    def merge(keys: Seq[String], ups: Map[String, Seq[R]],
        dels: Map[String, DataFrame]): Unit
    def read(): DataFrame
    def entries(): Seq[(String, String)] = {
      val snap = store.currentSnapshot(spark, root).get
      store.snapshotMapping(spark, root, snap).collect {
        case (k, d) if store.isMorDir(spark, s"$root/${leaf(k)}/$d") =>
          (s"$root/${leaf(k)}", d)
      }
    }
    /** the leaf dir of a snapshot key */
    def leaf(key: String): String
  }

  private def singleColumn = new Layout("single") {
    val store = PartitionedManifest
    def seed(rows: Seq[R]): Unit = {
      PartitionedManifest.seed(spark, root,
        df(rows).withColumn("g", org.apache.spark.sql.functions.col("grp")), "g")
      PartitionedManifest.commitSnapshot(spark, root, "g", Map.empty)
    }
    def key(g: String): String = g
    def leaf(key: String): String = s"g=$key"
    def merge(keys: Seq[String], ups: Map[String, Seq[R]],
        dels: Map[String, DataFrame]): Unit =
      PartitionedManifest.commitMerge(spark, root, "g", keys,
        ups.map { case (g, rs) => g -> df(rs) }, dels)
    def read(): DataFrame =
      PartitionedManifest.read(spark, root, "g", "string").drop("g")
  }

  private def spec = new Layout("spec") {
    val store = SpecManifest
    val sp = PartitionSpec(Seq(PartField("g", "grp", Identity)))
    def seed(rows: Seq[R]): Unit = SpecManifest.seed(spark, root, df(rows), sp)
    def key(g: String): String = g
    def leaf(key: String): String = key
    def merge(keys: Seq[String], ups: Map[String, Seq[R]],
        dels: Map[String, DataFrame]): Unit =
      SpecManifest.commitMerge(spark, root, sp, keys,
        ups.map { case (g, rs) => Seq(g) -> df(rs) },
        dels.map { case (g, d) => Seq(g) -> d })
    def read(): DataFrame = SpecManifest.read(spark, root, sp).drop("g")
  }

  private def rowsOf(d: DataFrame): Seq[R] =
    d.select("k", "v", "s", "grp").collect().toSeq.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getString(2), r.getString(3))).sortBy(_.toString)

  /** The model of a keyed merge: a row whose (leaf, key) an upsert or
    * a delete names leaves, the upserts join. */
  private def applyMerge(model: Seq[R], ups: Seq[R],
      dels: Seq[(String, Long)]): Seq[R] = {
    val gone = (ups.map(r => (r._4, r._1)) ++ dels).toSet
    model.filterNot(r => gone((r._4, r._1))) ++ ups
  }

  /** resolveMorGrouped over every merge-on-read leaf, plus the pure
    * leaves as they are, and the layout's own read: both equal `model`. */
  private def check(l: Layout, model: Seq[R], what: String): Unit = {
    val mor = l.entries()
    val resolved = rowsOf(l.store.resolveMorGrouped(spark, mor, Seq("g"), None))
    val morLeaves = mor.map(_._1.split("/g=").last).toSet
    val want = model.sortBy(_.toString)
    assert(resolved == want.filter(r => morLeaves(r._4)),
      s"${l.name} $what: grouped resolution differs from the model")
    assert(rowsOf(l.read()) == want, s"${l.name} $what: read differs")
  }

  for ((layout, mk) <- Seq[(String, () => Layout)](
      "single-column" -> (() => singleColumn), "spec" -> (() => spec))) {
    test(s"keyed chains resolve to the model at depth 1, mixed depth and " +
        s"depth 2 ($layout layout)") {
      val l = mk()
      try {
        // leaf c stays pure; key 3 has a NULL in the non-key column v
        var model: Seq[R] =
          (1L to 6L).map(k => (k, if (k == 3L) None else Some(k * 1.0), "a", "a")) ++
          (11L to 16L).map(k => (k, Some(k * 1.0), "b", "b")) :+
          ((21L, Some(21.0), "c", "c"))
        l.seed(model)
        def merge(ups: Map[String, Seq[R]], dels: Map[String, Seq[Long]]): Unit = {
          import spark.implicits._
          l.merge(Seq("k"), ups.map { case (g, rs) => l.key(g) -> rs },
            dels.map { case (g, ks) => l.key(g) -> ks.toDF("k") })
          model = applyMerge(model, ups.values.flatten.toSeq,
            dels.toSeq.flatMap { case (g, ks) => ks.map(g -> _) })
        }
        // depth 1 in a and b: updates, an insert and an update to NULL
        // in the non-key column, deletes
        merge(Map("a" -> Seq((1L, Some(100.0), "u1", "a"), (7L, None, "i1", "a")),
          "b" -> Seq((11L, None, "u1", "b"))), Map("a" -> Seq(2L), "b" -> Seq(12L)))
        check(l, model, "depth 1")
        // a second layer on a only: the newest layer wins, a deleted key
        // comes back, an inserted key goes
        merge(Map("a" -> Seq((1L, Some(200.0), "u2", "a"), (2L, Some(2.5), "u2", "a"))),
          Map("a" -> Seq(7L)))
        check(l, model, "mixed depth")
        merge(Map("b" -> Seq((12L, Some(12.5), "u2", "b"))), Map("b" -> Seq(11L)))
        check(l, model, "depth 2")
      } finally deleteTree(l.dir)
    }

    test(s"a full-row-keyed delete layer removes every identical copy and " +
        s"keeps NULL-valued rows ($layout layout)") {
      val l = mk()
      try {
        val dup: R = (5L, Some(5.0), "dup", "a")
        val seedRows: Seq[R] = Seq(dup, dup, (6L, None, "n", "a"),
          (7L, Some(7.0), "x", "a"), (8L, Some(8.0), "y", "b"),
          (9L, Some(9.0), "z", "b"))
        l.seed(seedRows)
        val all = Seq("k", "v", "s", "grp")
        // the delete frame carries the duplicated row twice
        l.merge(all, Map.empty, Map(l.key("a") -> df(Seq(dup, dup)),
          l.key("b") -> df(Seq((8L, Some(8.0), "y", "b")))))
        val model = seedRows.filterNot(r => r == dup || r._1 == 8L)
        check(l, model, "full-row delete")
      } finally deleteTree(l.dir)
    }
  }

  test("a MERGE whose clause claims one copy of a duplicated target key " +
      "takes copy-on-write and matches the model") {
    val wh = Files.createTempDirectory("graft-morres-sql")
    val cat = "gresolve"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    val t = s"$cat.db.dups"
    try {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"""CREATE TABLE $t (k BIGINT, v DOUBLE, d DATE)
        PARTITIONED BY (years(d), bucket(2, k))""")
      // key 1 twice in one leaf; keys 2..6 once
      spark.sql(s"""INSERT INTO $t VALUES (1, 10.0, DATE'2001-02-01'),
        (1, 20.0, DATE'2001-03-01'), (2, 2.0, DATE'2001-02-01'),
        (3, 3.0, DATE'2001-02-01'), (4, 4.0, DATE'2001-02-01'),
        (5, 5.0, DATE'2001-02-01'), (6, 6.0, DATE'2001-02-01')""")
      val root = wh.resolve("db").resolve("dups").toString
      def liveMor(): Boolean = {
        val snap = SpecManifest.currentSnapshot(spark, root).get
        SpecManifest.snapshotMapping(spark, root, snap).exists { case (k, d) =>
          SpecManifest.isMorDir(spark, s"$root/$k/$d") }
      }
      def content(): Seq[(Long, Double)] = spark.sql(s"SELECT k, v FROM $t")
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))).sorted
      val merge = s"""MERGE INTO $t t USING (SELECT * FROM VALUES (1L, 99.0),
        (2L, 22.0) AS s(k, v)) s ON t.k = s.k
        WHEN MATCHED AND t.v < 15.0 THEN UPDATE SET v = s.v"""
      spark.sql(merge)
      // the claimed copy of key 1 and key 2 update; the unclaimed copy
      // of key 1 stays — a keyed delta would have replaced both
      assert(content() == Seq((1L, 20.0), (1L, 99.0), (2L, 22.0), (3L, 3.0),
        (4L, 4.0), (5L, 5.0), (6L, 6.0)))
      assert(!liveMor(), "a duplicated claimed key must take copy-on-write")
      // the control: the same clause shape on unique keys rides
      // merge-on-read
      spark.sql(s"""MERGE INTO $t t USING (SELECT * FROM VALUES (3L, 33.0)
        AS s(k, v)) s ON t.k = s.k
        WHEN MATCHED AND t.v < 15.0 THEN UPDATE SET v = s.v""")
      assert(liveMor(), "a unique-key MERGE rides merge-on-read")
      assert(content() == Seq((1L, 20.0), (1L, 99.0), (2L, 22.0), (3L, 33.0),
        (4L, 4.0), (5L, 5.0), (6L, 6.0)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      deleteTree(wh)
    }
  }
}
