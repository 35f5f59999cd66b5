package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[parquet]` steps `spark.read.schema(…).parquet`
  * takes for one path, so `graft.Tables` can open a fixture table with
  * one footer read on the calling thread and one directly built file
  * relation: no per-read data-source lookup (a `ServiceLoader` scan of
  * the classpath), no per-read footer thread pool. Same pattern as
  * `GraftBridge`. */
object GraftParquet {
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The footer `readParquetFootersInParallel` reads for `file`, without
    * its thread pool: file metadata only, row groups skipped. */
  def footer(conf: Configuration, file: FileStatus): Footer =
    new Footer(file.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS))

  /** The footer converted under the session's SQL conf, made nullable, as
    * a file relation's schema is. */
  def schema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get.asNullable

  /** The DataFrame `spark.read.schema(schema).parquet(path)` returns, built
    * as `DataSource.resolveRelation` builds it for a user-supplied schema:
    * an `InMemoryFileIndex` over the qualified `root` (partition discovery
    * for `k=v` directories types a column by `schema` when it names it),
    * the schema's other columns as the data schema, and the reader's
    * options map. */
  def relation(spark: SparkSession, root: Path, path: String, schema: StructType): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val options = Map("path" -> path)
    val index = new InMemoryFileIndex(s, Seq(root), options, Some(schema),
      FileStatusCache.getOrCreate(s))
    val parts = index.partitionSchema
    val same = s.sessionState.conf.resolver
    val data = StructType(schema.filterNot(f => parts.exists(p => same(p.name, f.name))))
    s.baseRelationToDataFrame(HadoopFsRelation(index, parts, data.asNullable, None,
      new ParquetFileFormat, CaseInsensitiveMap(options))(s))
  }
}
