package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog over a scale-factor directory.
  *
  * Mirrors the reference's source model — every packet query runs against a
  * set of named relations (`/root/reference/dbccore/dbccore.py:831-903`
  * ships SQL to PostgreSQL; here the relations are parquet tables and
  * Catalyst owns the plan). Tables are registered as temp views so both the
  * DataFrame API and `spark.sql` paths see the same names the DuckDB oracle
  * uses.
  *
  * Scale posture: `spark.read.parquet` is a file-source V1 scan — partition
  * pruning, predicate pushdown and column pruning all apply. At 100 TB the
  * same call reads a partitioned directory tree; nothing here assumes
  * single-file inputs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables that should always be broadcast in joins. */
  val smallDims: Set[String] = Set("region", "nation")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    if (name == "events")
      // events.ts is parquet TIMESTAMP(NANOS) in some fixture generations,
      // which Spark's vectorized reader rejects; read the raw int64 and
      // truncate to micros below. Harmless for non-nanos encodings.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // fixture tables are immutable: the schema is read once per process
    // from one footer on the driver, with no Spark job
    val df = FooterSchema.read(spark, p)
    if (name == "events") normalizeTs(spark, normalizeNtz(spark, df))
    else normalizeNtz(spark, df)
  }

  /** Normalize EVERY TimestampNTZ column of a table to `TimestampType`
    * (UTC instant). The round-9 fixture regeneration changed only
    * `events.ts`, but nothing guarantees the next writer does not emit
    * `orders.o_orderdate` or `lineitem.l_shipdate` as timestamp-without-
    * timezone too — one typio-style normalization layer, applied to all
    * tables, is the contract (reference:
    * psc/postgresql/types/io/stdlib_datetime.py funnels every wire
    * encoding through one codec for the same reason). Lossless: session
    * TZ is pinned UTC (asserted below), so the NTZ wall-clock IS the
    * instant. */
  private[graft] def normalizeNtz(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntzCols = df.schema.fields
      .filter(_.dataType == TimestampNTZType).map(_.name)
    if (ntzCols.isEmpty) df
    else {
      // loud, not silent: flipping the session TZ here would corrupt
      // every other timestamp expression in a non-UTC session, and the
      // cast below is LAZY — it executes under whatever TZ is current at
      // action time, so only a hard contract makes the reinterpretation
      // safe. Every engine entrypoint pins UTC; a launcher that does not
      // must fail here, not shift values.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"Tables.load requires spark.sql.session.timeZone=UTC to cast " +
          s"NTZ columns ${ntzCols.mkString(",")} losslessly; session has " +
          s"'$tz' — pin UTC in the SparkSession builder")
      ntzCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c).cast(TimestampType)))
    }
  }

  /** Normalize `events.ts` to `TimestampType` (micros, UTC instant) across
    * every physical parquet encoding a writer may have used. A 100 TB lake
    * never has one writer; a downstream operator must see ONE shape:
    *   - int64 TIMESTAMP(NANOS)   → surfaced as LongType via nanosAsLong;
    *     integer-div to micros (`div`, not `/` — ns-since-epoch exceeds
    *     double's 2^53 exact range).
    *   - timestamp[us] without tz → already cast by [[normalizeNtz]]
    *     (load chains it first).
    *   - timestamp[us/ms] UTC     → already TimestampType; no-op.
    */
  private[graft] def normalizeTs(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; expected " +
            "int64-nanos, timestamp_ntz, or timestamp")
    }
  }

  /** Register every table of `dir` as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { t => load(spark, dir, t).createOrReplaceTempView(t) }

  /** Register only the named tables — each registration reads a parquet
    * footer, so a packet run that touches two tables should not pay for
    * ten (Engine resolves the referenced set from the packet SQL). */
  def registerSome(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.filter(all.contains)
      .foreach { t => load(spark, dir, t).createOrReplaceTempView(t) }
}
