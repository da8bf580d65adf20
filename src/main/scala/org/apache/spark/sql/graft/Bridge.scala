package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Thin bridge into `private[sql]` Spark surface, following the standard
  * extension-library pattern of hosting a small object under
  * org.apache.spark.sql.* (cf. public Spark extensions like Qbeast/Pathling —
  * see SNIPPETS.md). Everything else in this codebase lives in the graft.*
  * namespace and reaches Spark internals only through this object. */
object Bridge {
  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a user-facing Column to its Catalyst Expression. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Session-scoped registration of a native expression so it is also
    * callable via SQL / functions.call_function. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    classic(spark).sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The Hadoop configuration the session's file sources read with. */
  def hadoopConf(spark: SparkSession): Configuration =
    classic(spark).sessionState.newHadoopConf()

  /** The Spark schema of one parquet file, derived as Spark's schema
    * inference derives it per file: the footer read with metadata only (row
    * groups skipped), converted with the session's parquet settings. */
  def parquetFileSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(classic(spark).sessionState.conf))
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
