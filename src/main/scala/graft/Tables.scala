package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture table loaders.
  *
  * Schema source of truth is the Parquet footer (self-describing); we never
  * sample-infer. At 100 TB each `name.parquet` would be a directory of many
  * files — `spark.read.parquet(dir)` handles both transparently, so nothing
  * here changes at scale.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical forms across fixture
    * generations: parquet `timestamp[ns]` (which Spark 4 refuses to read as
    * a timestamp — PARQUET_TYPE_ILLEGAL — so we read raw nanos via the
    * legacy conf and rebuild µs; the values are µs-aligned, so `div 1000`
    * is lossless integer division) and plain `timestamp[us]` (read as
    * TIMESTAMP_NTZ). Branch on the footer type so both load to the same
    * session-zoned TimestampType column; the NTZ→TZ cast is
    * value-preserving because the harness runs in UTC. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(s, d, "events"))
  }

  /** The `ts` branch of [[events]], shared with the streaming events
    * source (whose explicit schema carries the same footer type). */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
