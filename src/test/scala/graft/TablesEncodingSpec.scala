package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FooterSchema, Tables}

/** Fixture-encoding contract: `Tables.load` must yield the SAME logical
  * `events.ts` — `TimestampType`, identical epoch micros — no matter which
  * physical parquet encoding the fixture writer used. Round 9's fixtures
  * silently switched from int64 TIMESTAMP(NANOS) to timestamp[us] NTZ and
  * broke five queries; this spec writes the events shape in all three
  * encodings a writer can plausibly produce and pins the normalized result,
  * so the next regeneration cannot break the build unseen.
  *
  * (The reference funnels every PG wire type through one typio layer —
  * `/root/reference/psc/postgresql/types/io/stdlib_datetime.py` — for the
  * same reason: downstream code sees one shape.)
  */
class TablesEncodingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  // Distinct sub-second parts so a millis/micros confusion cannot hide.
  private val epochMicros = Seq(
    1704067200000000L,          // 2024-01-01T00:00:00Z
    1704067201234567L,          // …:01.234567
    1735689599999999L)          // 2024-12-31T23:59:59.999999Z

  private def writeAndLoad(write: String => Unit): (DataTypeHolder, Seq[Long]) = {
    val dir = Files.createTempDirectory("events_enc_").toFile
    dir.deleteOnExit()
    write(dir.getAbsolutePath)
    val df = Tables.load(spark, dir.getAbsolutePath, "events")
    val micros = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    (DataTypeHolder(df.schema("ts").dataType), micros)
  }

  private case class DataTypeHolder(dt: DataType)

  private def baseRows: Seq[Row] =
    epochMicros.zipWithIndex.map { case (us, i) => Row(i.toLong, us) }

  test("int64-nanos, NTZ-micros and UTC-micros all normalize to identical TimestampType micros") {
    // 1. int64 nanos — what TIMESTAMP(NANOS) parquet surfaces as under
    //    spark.sql.legacy.parquet.nanosAsLong (Spark cannot author true
    //    nanos parquet, so we author the surfaced shape directly).
    val (nanosTy, nanosVals) = writeAndLoad { dir =>
      val rows = epochMicros.zipWithIndex.map { case (us, i) => Row(i.toLong, us * 1000L) }
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType))))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    // 2. timestamp[us] WITHOUT timezone (TIMESTAMP_NTZ) — round 9+ fixtures.
    val (ntzTy, ntzVals) = writeAndLoad { dir =>
      spark.createDataFrame(
          spark.sparkContext.parallelize(baseRows, 1),
          StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType))))
        .withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    // 3. timestamp[us] adjusted-to-UTC — Spark's own default writer output.
    val (utcTy, utcVals) = writeAndLoad { dir =>
      spark.createDataFrame(
          spark.sparkContext.parallelize(baseRows, 1),
          StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType))))
        .withColumn("ts", timestamp_micros(col("ts")))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    }

    for ((label, ty) <- Seq(("int64-nanos", nanosTy), ("ntz-micros", ntzTy), ("utc-micros", utcTy)))
      assert(ty.dt == TimestampType, s"$label must normalize to TimestampType, got ${ty.dt}")
    assert(nanosVals == epochMicros, "nanos values must truncate to the same micros")
    assert(ntzVals == epochMicros, "NTZ values must reinterpret losslessly under UTC")
    assert(utcVals == epochMicros, "UTC values must pass through unchanged")
  }

  test("the live fixture loads as TimestampType whatever its current physical encoding") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType == TimestampType)
    // unix_micros must analyze — this is exactly what broke in round 9.
    assert(df.select(unix_micros(col("ts"))).limit(1).count() == 1)
  }

  test("NTZ timestamp columns normalize in EVERY table, not just events") {
    // the round-9 regeneration changed events.ts; the next one could emit
    // orders.o_orderdate as timestamp-without-timezone the same way
    val dir = Files.createTempDirectory("orders_enc_").toFile
    dir.deleteOnExit()
    spark.createDataFrame(
        spark.sparkContext.parallelize(baseRows, 1),
        StructType(Seq(StructField("o_orderkey", LongType), StructField("ts", LongType))))
      .withColumn("o_orderdate", timestamp_micros(col("ts")).cast(TimestampNTZType))
      .drop("ts")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/orders.parquet")
    val df = Tables.load(spark, dir.getAbsolutePath, "orders")
    assert(df.schema("o_orderdate").dataType == TimestampType)
    val got = df.orderBy("o_orderkey")
      .select(unix_micros(col("o_orderdate"))).collect().map(_.getLong(0)).toSeq
    assert(got == epochMicros, "NTZ order dates must reinterpret losslessly")
  }

  test("an unrecognized ts encoding fails loudly, not silently") {
    val df = spark.range(1).select(col("id").as("event_id"),
      col("id").cast(StringType).as("ts"))
    val e = intercept[IllegalStateException](Tables.normalizeTs(spark, df))
    assert(e.getMessage.contains("unsupported physical type"))
  }

  // ---- driver-side schema reader: parity with Spark's inference ----

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** The reader's data schema and the final read's schema equal what
    * Spark's own inference gives (`partCols`: hive columns inference
    * appends after the data columns). */
  private def assertParity(paths: Seq[String],
      partCols: Set[String] = Set.empty): StructType = {
    val inferred = spark.read.parquet(paths: _*).schema
    val mine = FooterSchema.of(spark, paths)
    assert(mine == StructType(inferred.filterNot(f => partCols(f.name))),
      s"reader schema $mine vs inferred $inferred for $paths")
    val df = spark.read.schema(mine).parquet(paths: _*)
    assert(df.schema == inferred, s"read schema ${df.schema} vs $inferred")
    mine
  }

  private def withNanosAsLong[T](on: Boolean)(body: => T): T = {
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, on.toString)
    try body finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("schema reader matches Spark's inference on every fixture table") {
    val dir = "/root/testdata/sf0.001"
    withNanosAsLong(on = true) {
      Tables.all.foreach(t => assertParity(Seq(Tables.path(dir, t))))
    }
    // events.ts: the reader sees the nanos encoding exactly as Spark does
    withNanosAsLong(on = false) {
      val p = Tables.path(dir, "events")
      val inferred = scala.util.Try(spark.read.parquet(p).schema)
      val mine = scala.util.Try(FooterSchema.of(spark, Seq(p)))
      assert(inferred.isSuccess == mine.isSuccess, s"$inferred vs $mine")
      inferred.foreach(sc => assert(mine.get == sc))
    }
  }

  test("schema reader matches inference on a nanos-as-long column and a " +
      "hive-partitioned dir") {
    val rows = epochMicros.zipWithIndex.map { case (us, i) => Row(i.toLong, us) }
    val base = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", LongType))))
    val ev = tmp("events_nanos_") + "/events.parquet"
    base.write.parquet(ev)
    withNanosAsLong(on = true)(assertParity(Seq(ev)))
    val hive = tmp("hive_") + "/t"
    base.withColumn("p", col("event_id") % 2).withColumn("s", lit("x"))
      .write.partitionBy("p", "s").parquet(hive)
    assertParity(Seq(hive), Set("p", "s"))
  }

  test("schema reader: two dirs with different columns take the first " +
      "leaf in PATH order, and sidecars are skipped") {
    val root = tmp("two_dirs_")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS b")
      .write.parquet(s"$root/a")
    spark.range(3).selectExpr("id", "id * 2.0 AS c").write.parquet(s"$root/z")
    // argument order z, a: path order still picks a's first part file
    val sc = assertParity(Seq(s"$root/z", s"$root/a"))
    assert(sc.fieldNames.toSeq == Seq("id", "b"), sc)
    // Spark's writer left _SUCCESS and .crc sidecars; add unreadable
    // ones that sort first — the reader must never open them
    val side = s"$root/a"
    Seq("_SUCCESS", "._SUCCESS.crc", "_0_junk", ".0_junk").foreach(n =>
      Files.writeString(java.nio.file.Paths.get(side, n), "not parquet"))
    assert(new java.io.File(side).list().exists(_.endsWith(".crc")))
    assertParity(Seq(side))
  }

  test("schema reader: an empty dir fails with Spark's own error class") {
    val empty = tmp("empty_")
    val spark0 = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(empty).schema)
    val mine = intercept[org.apache.spark.sql.AnalysisException](
      FooterSchema.of(spark, Seq(empty)))
    assert(mine.getCondition == spark0.getCondition, s"$mine vs $spark0")
    val missing = s"$empty/nope"
    assert(intercept[org.apache.spark.sql.AnalysisException](
      FooterSchema.of(spark, Seq(missing))).getCondition ==
      intercept[org.apache.spark.sql.AnalysisException](
        spark.read.parquet(missing)).getCondition)
  }

  test("a cold Tables.load submits no Spark job") {
    val dir = tmp("cold_load_")
    spark.range(5).selectExpr("id AS o_orderkey", "'x' AS o_comment")
      .write.parquet(Tables.path(dir, "orders"))
    val (df, jobs) = JobCount.of(spark)(Tables.load(spark, dir, "orders"))
    assert(jobs == 0, s"cold Tables.load ran $jobs jobs")
    assert(df.count() == 5)
  }
}
