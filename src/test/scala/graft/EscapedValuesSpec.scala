package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{PartitionedManifest, SpecManifest}

/** Partition values holding characters Spark escapes in directory names
  * (`# % * : = ? { [ ] ^`, every one the partition-value alphabet
  * admits): each layout and the SQL surface must store and serve the
  * values themselves, through seed or INSERT, snapshot commit,
  * merge-on-read commit, compaction, reads and CDC, equal to a Scala
  * model at every step. */
class EscapedValuesSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.session

  /** Every escapable character, plus a value spelled like an escape. */
  private val Values = Seq("a:b", "x%y", "h#1", "s*t", "e=q", "q?r",
    "c{u}", "b[r]", "c^t", "p%3A")

  private val Catalog = "gescape"
  private lazy val wh: Path = {
    val dir = Files.createTempDirectory("graft-escaped")
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", dir.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $Catalog.db")
    dir
  }

  override def afterAll(): Unit = {
    try spark.sql(s"DROP TABLE IF EXISTS $Catalog.db.t")
    finally {
      val s = Files.walk(wh)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
    super.afterAll()
  }

  /** (k, v, bk) */
  type R = (Long, Double, String)

  private def seedRows: Seq[R] = Values.zipWithIndex.flatMap { case (b, i) =>
    Seq((2L * i, i * 1.0, b), (2L * i + 1, i * 2.0, b)) }

  private def rowsOf(df: DataFrame): Seq[R] = {
    import spark.implicits._
    df.select($"k", $"v", $"bk").as[R].collect().toSeq.sorted
  }

  /** The multiset diff `to` - `from` as (row, change type). */
  private def diff(from: Seq[R], to: Seq[R]): Seq[(R, String)] =
    (to.diff(from).map(_ -> "insert") ++ from.diff(to).map(_ -> "delete")).sorted

  private def changes(df: DataFrame): Seq[(R, String)] = {
    import spark.implicits._
    df.select($"k", $"v", $"bk", $"_change_type")
      .as[(Long, Double, String, String)].collect().toSeq
      .map(r => ((r._1, r._2, r._3), r._4)).sorted
  }

  /** The model after a commit rewriting partitions `a:b` and `x%y`, a
    * merge upserting one key in each of `h#1`, `p%3A` and deleting one
    * in `c^t`. */
  private def rewritten(m: Seq[R]): Seq[R] =
    m.map(r => if (r._3 == "a:b" || r._3 == "x%y") r.copy(_2 = r._2 + 100) else r)
  private val Upserted: Set[Long] = Set(4L, 18L)
  private val Deleted = 16L
  private def merged(m: Seq[R]): Seq[R] =
    m.filterNot(_._1 == Deleted)
      .map(r => if (Upserted(r._1)) r.copy(_2 = -r._2) else r)

  test("single-column layout stores and serves escapable partition values") {
    import spark.implicits._
    val root = Files.createDirectories(wh.resolve("single")).toString
    var model = seedRows.sorted
    def read() = rowsOf(PartitionedManifest.read(spark, root, "bk", "string"))
    PartitionedManifest.seed(spark, root, model.toDF("k", "v", "bk"), "bk")
    // tagged, so the CDC base outlives the keep-2 horizon
    val s0 = PartitionedManifest.tagSnapshot(spark, root, "start",
      Some(PartitionedManifest.commitSnapshot(spark, root, "bk", Map.empty)))
    assert(PartitionedManifest.partitionValues(spark, root, "bk") == Values.sorted)
    assert(read() == model, "seeded read")
    val seeded = model
    model = rewritten(model)
    PartitionedManifest.commitSnapshot(spark, root, "bk",
      model.filter(r => r._3 == "a:b" || r._3 == "x%y").groupBy(_._3)
        .map { case (b, rs) => b -> rs.map(r => (r._1, r._2)).toDF("k", "v") })
    assert(read() == model, "read after the snapshot commit")
    val byKey = model.map(r => r._1 -> r).toMap
    model = merged(model)
    PartitionedManifest.commitMerge(spark, root, "bk", Seq("k"),
      upserts = Upserted.toSeq.map(byKey).groupBy(_._3).map { case (b, rs) =>
        b -> rs.map(r => (r._1, -r._2)).toDF("k", "v") },
      deletes = Map(byKey(Deleted)._3 -> Seq(Deleted).toDF("k")))
    assert(read() == model, "merge-on-read read")
    assert(rowsOf(PartitionedManifest.readSnapshot(spark, root, "bk",
      "string")) == model, "merge-on-read snapshot read")
    val s2 = PartitionedManifest.currentSnapshot(spark, root).get
    assert(changes(PartitionedManifest.changesBetween(spark, root, "bk",
      "string", s0, s2)) == diff(seeded, model), "CDC over merge-on-read")
    val (_, compacted) = PartitionedManifest.compact(spark, root, "bk")
    assert(compacted.sorted == Seq("c^t", "h#1", "p%3A"), s"compacted: $compacted")
    assert(read() == model, "compacted read")
    val s3 = PartitionedManifest.currentSnapshot(spark, root).get
    assert(changes(PartitionedManifest.changesBetween(spark, root, "bk",
      "string", s0, s3)) == diff(seeded, model), "CDC after compaction")
    assert(changes(PartitionedManifest.changesBetween(spark, root, "bk",
      "string", s2, s3)).isEmpty, "compaction changes no row")
  }

  test("spec layout stores and serves escapable partition values") {
    import spark.implicits._
    import SpecManifest.{Identity, PartField, PartitionSpec}
    val root = Files.createDirectories(wh.resolve("spec")).toString
    val spec = PartitionSpec(Seq(PartField("p", "bk", Identity)))
    var model = seedRows.sorted
    def read(): Seq[R] = {
      val df = SpecManifest.read(spark, root, spec)
      assert(df.where($"p" =!= $"bk").isEmpty, "served p differs from bk")
      rowsOf(df)
    }
    val s0 = SpecManifest.tagSnapshot(spark, root, "start",
      Some(SpecManifest.seed(spark, root, model.toDF("k", "v", "bk"), spec)))
    assert(SpecManifest.leafKeys(spark, root, spec) == Values.sorted.map(Seq(_)))
    assert(read() == model, "seeded read")
    val seeded = model
    model = rewritten(model)
    SpecManifest.commitSnapshot(spark, root, spec,
      model.filter(r => r._3 == "a:b" || r._3 == "x%y").groupBy(_._3)
        .map { case (b, rs) => Seq(b) -> rs.toDF("k", "v", "bk") })
    assert(read() == model, "read after the snapshot commit")
    val byKey = model.map(r => r._1 -> r).toMap
    model = merged(model)
    SpecManifest.commitMerge(spark, root, spec, Seq("k"),
      upserts = Upserted.toSeq.map(byKey).groupBy(_._3).map { case (b, rs) =>
        Seq(b) -> rs.map(r => r.copy(_2 = -r._2)).toDF("k", "v", "bk") },
      deletes = Map(Seq(byKey(Deleted)._3) -> Seq(Deleted).toDF("k")))
    assert(read() == model, "merge-on-read read")
    val s2 = SpecManifest.currentSnapshot(spark, root).get
    assert(changes(SpecManifest.changesBetween(spark, root, spec, s0, s2)) ==
      diff(seeded, model), "CDC over merge-on-read")
    val (_, folded) = SpecManifest.compactLeaves(spark, root, spec)
    assert(folded.size == 3, s"folded: $folded")
    assert(read() == model, "compacted read")
    val s3 = SpecManifest.currentSnapshot(spark, root).get
    assert(changes(SpecManifest.changesBetween(spark, root, spec, s0, s3)) ==
      diff(seeded, model), "CDC after compaction")
  }

  test("SQL INSERT, UPDATE, DELETE, MERGE and compaction keep escapable " +
      "partition values") {
    val t = s"$Catalog.db.t"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE, bk STRING) " +
      "PARTITIONED BY (bk)")
    var model = seedRows.sorted
    def sqlRows(): Seq[R] = spark.sql(s"SELECT k, v, bk FROM $t").collect()
      .toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sorted
    def lit(r: R) = s"(${r._1}L, ${r._2}D, '${r._3}')"
    spark.sql(s"INSERT INTO $t VALUES ${model.map(lit).mkString(", ")}")
    assert(sqlRows() == model, "first INSERT")
    val root = wh.resolve("db").resolve("t").toString
    spark.sql(s"CALL $Catalog.system.tag('db.t', 'start')")
    val s0 = SpecManifest.currentSnapshot(spark, root).get
    val seeded = model
    val more = Seq((100L, 7.0, "a:b"), (101L, 8.0, "x%y"))
    spark.sql(s"INSERT INTO $t VALUES ${more.map(lit).mkString(", ")}")
    model = (model ++ more).sorted
    assert(sqlRows() == model, "second INSERT into existing leaves")
    spark.sql(s"UPDATE $t SET v = v + 100 WHERE bk IN ('a:b', 'x%y')")
    model = rewritten(model)
    assert(sqlRows() == model, "UPDATE")
    spark.sql(s"DELETE FROM $t WHERE k = $Deleted")
    model = model.filterNot(_._1 == Deleted)
    assert(sqlRows() == model, "DELETE")
    val src = model.filter(r => Upserted(r._1)).map(r => r.copy(_2 = -r._2)) :+
      ((102L, 9.0, "q?r"))
    spark.sql(s"""MERGE INTO $t t USING (SELECT * FROM VALUES
      ${src.map(lit).mkString(", ")} AS s(k, v, bk)) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *""")
    model = (model.map(r => if (Upserted(r._1)) r.copy(_2 = -r._2) else r) :+
      ((102L, 9.0, "q?r"))).sorted
    assert(sqlRows() == model, "MERGE")
    // the hidden partition field serves the value itself
    val spec = SpecManifest.readSpec(spark, root)
    val p = spec.names.head
    assert(SpecManifest.read(spark, root, spec).where(s"$p <> bk").isEmpty)
    val s1 = SpecManifest.currentSnapshot(spark, root).get
    val cdc = SpecManifest.changesBetween(spark, root, spec, s0, s1)
    assert(cdc.where(s"$p <> bk").isEmpty)
    assert(changes(cdc) == diff(seeded, model), "CDC")
    spark.sql(s"CALL $Catalog.system.compact('db.t')")
    assert(sqlRows() == model, "compacted")
  }
}
