package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Parquet data schemas read on the DRIVER. Spark's schema inference
  * (`spark.read.parquet(p)` without `.schema`) submits a job to read
  * ONE footer — on a packet run of tiny actions that fixed job cost is
  * pure overhead. This reads the file Spark's non-merging inference
  * picks (the first leaf file in path order, with `_`/`.` sidecars
  * skipped as Spark's file index skips them; no writer here emits the
  * `_metadata` summaries Spark would prefer) and converts its footer
  * through Spark's own `readSchemaFromFooter` with a converter built
  * from the session conf, made nullable as file sources make it, so
  * the schema is the one inference would give. Callers read with
  * `spark.read.schema(s).parquet(p)`: Spark still infers partition
  * columns from the paths, with no job. */
object FooterSchema {

  /** The data schema Spark's inference gives `paths` (read every time:
    * for paths a writer may replace). */
  def of(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else st.getPath.getFileSystem(conf).listStatus(st.getPath).toSeq
        .filter(visible).flatMap(leaves)
    val roots = paths.map { p =>
      val hp = new HPath(p)
      Option(hp.getFileSystem(conf).globStatus(hp)).getOrElse(Array.empty)
    }
    // a missing path fails with Spark's own error (listing only, no job)
    if (roots.exists(_.isEmpty))
      spark.read.schema(new StructType()).parquet(paths: _*)
    // like Spark's file index: a root dir is listed whatever its name
    val pick = roots.flatten.filter(st => st.isDirectory || visible(st))
      .flatMap(leaves)
      .sortBy(_.getPath.toString).headOption
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> "Parquet")))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(pick, conf), SKIP_ROW_GROUPS)
    ColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(pick.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** [[of]], memoized process-wide — only for IMMUTABLE paths (fixture
    * tables, write-once version dirs). Keyed with the conf that shapes
    * the conversion; cleared wholesale past 8192 entries. */
  def memo(spark: SparkSession, paths: String*): StructType = {
    val c = spark.sessionState.conf
    val key = (paths, c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong)
    if (cache.size > 8192) cache.clear()
    cache.computeIfAbsent(key, _ => of(spark, paths))
  }

  /** Read immutable `paths` through the memoized schema. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(memo(spark, paths: _*)).parquet(paths: _*)

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, StructType]()
}
