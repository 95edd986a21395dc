package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression adapters. `ExpressionUtils` is private[sql] in
  * Spark 4 (the Connect refactor hid the Expression-backed Column
  * constructor), so the engine's native expressions go through this
  * in-package bridge — the standard pattern for Catalyst extension
  * libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unwraps a (possibly) sort-ordered Column into (key, ascending,
    * nullsFirst). A bare column reads as ASC NULLS FIRST — Spark's
    * default sort order. Columns carry sort direction as an internal
    * ColumnNode since the Spark 4 Connect refactor, so this lives in
    * the in-package bridge. */
  def sortOrderOf(c: Column): (Column, Boolean, Boolean) =
    c.node match {
      case so: org.apache.spark.sql.internal.SortOrder =>
        val asc = so.sortDirection ==
          org.apache.spark.sql.internal.SortOrder.Ascending
        val nf = so.nullOrdering ==
          org.apache.spark.sql.internal.SortOrder.NullsFirst
        (Column(so.child), asc, nf)
      case _ => (c, true, true)
    }

  /** The session's Hadoop configuration (its `spark.hadoop.*` settings
    * included), the one Spark's file sources read with. */
  def hadoopConf(spark: SparkSession): Configuration =
    SessionStateHelper.getHadoopConf(spark)

  /** `spark.sql.parquet.mergeSchema` as the session has it. */
  def parquetMergeSchema(spark: SparkSession): Boolean =
    SessionStateHelper.getSqlConf(spark).isParquetSchemaMergingEnabled

  /** One parquet footer without its row groups, read the way Spark's
    * schema inference reads it. */
  def parquetFooter(spark: SparkSession, file: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf(spark)),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** The Spark schema of one footer, converted exactly as
    * `ParquetFileFormat.mergeSchemasInParallel` converts it under the
    * session's SQL conf: the schema a Spark writer stored in the
    * footer's key-value metadata, else the converted message type. */
  def parquetSchema(spark: SparkSession, file: FileStatus,
                    footer: ParquetMetadata): StructType = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), converter)
  }
}
