package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column ↔ Expression conversions.
  * Spark 4 made `Column` backend-agnostic; libraries that ship native
  * Catalyst expressions use this well-known shim pattern (same technique
  * as spark-daria / frameless / delta — a tiny object inside the
  * org.apache.spark.sql package tree).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The classic session's UUID (`sessionUUID` is private[sql]) — the
    * never-recurring per-session token graft.SessionKey keys memo
    * caches on. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** DataFrame over an already-parsed logical plan (Dataset.ofRows is
    * private[sql]) — lets a caller that parsed a statement to CLASSIFY it
    * execute the same plan without re-parsing/re-analyzing. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a native expression builder on a LIVE session's function
    * registry (sessionState is private[sql]; this shim is the same
    * package-tree technique as the Column bridge above). Extensions
    * (`spark.sql.extensions`) only apply at session construction — this
    * is the runtime path. */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Re-present a BATCH DataFrame as a STREAMING one (isStreaming=true)
    * — what a V1 `Source.getBatch` must return (MicroBatchExecution
    * asserts it; FileStreamSource/KafkaSource use the same
    * private[sql] internalCreateDataFrame). The batch plan is already
    * resolved, so handing its toRdd over is exactly the file-source
    * pattern. */
  def asStreamingDataFrame(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse: re-present a V1 `Sink.addBatch` DataFrame (tagged
    * isStreaming=true, so plain actions refuse to run on it) as a BATCH
    * DataFrame over the same incremental execution — the MemorySink /
    * ConsoleSink consumption pattern. Valid only within the addBatch
    * call that received it. */
  def asBatchDataFrame(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** Every field (nested ones too) nullable — what Spark's file sources
    * make of each data schema they read (`asNullable` is private[spark]). */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** A registered catalog plugin by name (catalogManager is
    * private[sql]) — lets the streaming sink resolve a catalog-NAMED
    * graft table (`g.db.t`) to its root. */
  def catalogPlugin(spark: org.apache.spark.sql.SparkSession,
      name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.catalog(name)

}

/** V2 partition-transform bridge: the connector transform case classes
  * (IdentityTransform, YearsTransform, BucketTransform, …) are
  * private[sql], so the graft catalog decodes them here — same
  * package-tree technique as [[ColumnBridge]]. */
object TransformBridge {
  import org.apache.spark.sql.connector.expressions._

  private def one(ref: NamedReference): Seq[String] =
    ref.fieldNames().toSeq

  /** (kind, source column path, numeric parameter). Kinds: identity,
    * years, months, days, bucket, truncate. */
  def decode(t: Transform): (String, Seq[String], Option[Long]) =
    t match {
      case IdentityTransform(ref) => ("identity", one(ref), None)
      case YearsTransform(ref) => ("years", one(ref), None)
      case MonthsTransform(ref) => ("months", one(ref), None)
      case DaysTransform(ref) => ("days", one(ref), None)
      case HoursTransform(ref) => ("hours", one(ref), None)
      case BucketTransform(n, cols, sorted) =>
        require(cols.length == 1 && sorted.isEmpty,
          "bucket() takes exactly one column")
        ("bucket", one(cols.head), Some(n.toLong))
      case ApplyTransform("truncate", args) => args.toSeq match {
        case Seq(l: Literal[_], r: NamedReference) =>
          ("truncate", one(r), Some(l.value().toString.toLong))
        case Seq(r: NamedReference, l: Literal[_]) =>
          ("truncate", one(r), Some(l.value().toString.toLong))
        case other =>
          sys.error(s"truncate(width, col) expected, got $other")
      }
      case other => sys.error(s"unsupported partition transform $other")
    }
}
