package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge into the two `private[parquet]` steps of Spark's non-merging
  * Parquet schema inference (read one footer, convert it under the
  * session's SQL conf), so `graft.Tables` can run them on the driver
  * instead of inside the one-task job `SchemaMergeUtils` launches. The
  * schema is made nullable, as a file relation's is. Same pattern as
  * `GraftBridge`. */
object GraftParquet {
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  def footer(conf: Configuration, file: FileStatus): Footer =
    ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), ignoreCorruptFiles = false).head

  def schema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get.asNullable
}
