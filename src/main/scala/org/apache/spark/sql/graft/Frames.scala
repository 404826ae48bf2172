package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The engine entry points graft needs that Spark keeps package-private:
  * a DataFrame over a plan built from Catalyst nodes, so a plan that the
  * claim rules splice into a query and the DataFrame API answer come from
  * one construction; a frame's analyzed plan, so a claim rule can join
  * a read (a parquet relation) without optimizing it; and a file scan's
  * listing and schema inference rules, so an index part opens without a
  * Spark job. */
object Frames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Whether a file scan's listing skips a file or directory of this name
    * (`_SUCCESS`, `.crc` files, `_temporary`, …). */
  def skippedPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The data schema Spark's parquet inference reads from `file`'s footer:
    * the Spark schema it was written with, else the converted parquet
    * schema, every field nullable. */
  def parquetDataSchema(spark: SparkSession, file: org.apache.hadoop.fs.FileStatus): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    val footer = new org.apache.parquet.hadoop.Footer(file.getPath,
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sessionState.newHadoopConf(), file,
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }
}
