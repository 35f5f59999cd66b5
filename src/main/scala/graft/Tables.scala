package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Fixture table loaders.
  *
  * Schema source of truth is the Parquet footer (self-describing); we never
  * sample-infer. Opening a table is one footer read on the calling thread
  * ([[GraftParquet.footer]], not `readParquetFootersInParallel` and its
  * thread pool per call) plus one directly built file relation
  * ([[GraftParquet.relation]]): the relation
  * `spark.read.schema(footerSchema).parquet(path)` resolves to, without
  * that read's data-source lookup and path-check thread pool per call.
  * No Spark job runs (`spark.read.parquet(path)` would start a one-task
  * inference job), and nothing is cached: every open reads its footer.
  * The footer is chosen the way Spark's non-merging inference chooses it:
  * a file path is its own footer; in a directory tree, `_common_metadata`,
  * else `_metadata`, else the first data file in path order, skipping
  * hidden (`_`/`.`) names. So a `name.parquet` that is a directory of many
  * part files (`k=v` partition directories included) loads exactly as a
  * single file does.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    open(spark, s"$sfDir/$name.parquet")(GraftParquet.schema(spark, _))

  /** The schema `spark.read.parquet(path)` infers (without `mergeSchema`),
    * read from one footer on the driver under the session's conf. */
  def footerSchema(spark: SparkSession, path: String): StructType =
    GraftParquet.schema(spark, footer(GraftParquet.hadoopConf(spark), new Path(path)))

  /** One Hadoop conf per open: it qualifies the root, reads the footer of
    * the file [[footer]] chooses, and `schemaOf` converts that footer. */
  private def open(spark: SparkSession, path: String)(schemaOf: Footer => StructType): DataFrame = {
    val conf = GraftParquet.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val qualified = root.makeQualified(fs.getUri, fs.getWorkingDirectory)
    GraftParquet.relation(spark, qualified, path, schemaOf(footer(conf, qualified)))
  }

  private def footer(conf: Configuration, root: Path): Footer = {
    val fs = root.getFileSystem(conf)
    def summary(n: String) = n == "_common_metadata" || n == "_metadata"
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filter(c => summary(c.getPath.getName) || !hidden(c.getPath.getName))
        .flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val file = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !summary(f.getPath.getName)))
      .getOrElse(throw new java.io.FileNotFoundException(s"no Parquet data file under $root"))
    GraftParquet.footer(conf, file)
  }

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
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(open(s, s"$d/events.parquet")(eventsSchema(s, _)))

  /** The footer schema of an events file. Only a `ts` stored as
    * TIMESTAMP(NANOS) needs `spark.sql.legacy.parquet.nanosAsLong`, so
    * only then is it set on the session (before the footer is converted);
    * a µs file leaves the session's conf untouched. Shared with the
    * streaming events source, whose `readStream` needs this schema. */
  private[graft] def eventsSchema(s: SparkSession, path: String): StructType =
    eventsSchema(s, footer(GraftParquet.hadoopConf(s), new Path(path)))

  private def eventsSchema(s: SparkSession, f: Footer): StructType = {
    val cols = f.getParquetMetadata.getFileMetaData.getSchema
    cols.getType(cols.getFieldIndex("ts")).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS =>
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      case _ =>
    }
    GraftParquet.schema(s, f)
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

  private val fixtures = Set("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Runs SQL `text` over the fixture tables of `d` without registering
    * anything in the session: each single-part relation that names a
    * fixture table (in the query, its subquery expressions and its CTE
    * bodies) is bound in the parsed plan to that table's loader — `events`
    * to [[events]], the rest to [[table]]. A caller's temp view of the same
    * name is neither read nor replaced, so two calls on different fixture
    * dirs can run at once in one session. Each table loads once per call;
    * a second reference gets fresh attribute ids from the analyzer, as a
    * view read twice does. A CTE must not be named like a fixture table. */
  def sql(s: SparkSession, d: String, text: String): DataFrame = {
    val loaded = scala.collection.mutable.Map.empty[String, LogicalPlan]
    def load(n: String): LogicalPlan = loaded.getOrElseUpdate(n,
      GraftBridge.analyzed(if (n == "events") events(s, d) else table(s, d, n)))
    // transformUpWithSubqueries does not enter UnresolvedWith.cteRelations.
    def bind(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(n), _, _) if fixtures(n) => SubqueryAlias(n, load(n))
      case w: UnresolvedWith => w.copy(cteRelations = w.cteRelations.map {
        case (n, body, depth) => (n, bind(body).asInstanceOf[SubqueryAlias], depth)
      })
    }
    GraftBridge.ofRows(s, bind(s.sessionState.sqlParser.parsePlan(text)))
  }
}
