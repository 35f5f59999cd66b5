package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.StreamQueries
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads each table's schema from one Parquet footer on the
  * driver; these pin that it agrees with Spark's own inference, starts no
  * job, and sets `nanosAsLong` only for a file that needs it. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs, counted after the bus drains. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("footerSchema equals Spark's inferred schema for every fixture table") {
    for (sf <- Seq(TestSpark.sf, new java.io.File(TestSpark.sf).getParent + "/sf0.01");
         nanos <- Seq(None, Some("true"))) {
      val s = spark.newSession()
      nanos.foreach(s.conf.set(nanosAsLong, _))
      for (t <- names) {
        val path = s"$sf/$t.parquet"
        val inferred = s.read.parquet(path).schema
        assert(Tables.footerSchema(s, path) == inferred, s"$path nanosAsLong=$nanos")
        assert(Tables.table(s, sf, t).schema == inferred, s"$path nanosAsLong=$nanos")
      }
    }
  }

  /** The file relation under a loaded table's plan. */
  private def relationOf(df: DataFrame): HadoopFsRelation =
    GraftBridge.analyzed(df).collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  /** `ours` and `theirs` read the same files through equal relations. */
  private def assertSameRelation(ours: DataFrame, theirs: DataFrame, what: String): Unit = {
    val (a, b) = (relationOf(ours), relationOf(theirs))
    assert(a.location.rootPaths == b.location.rootPaths, what)
    assert(a.partitionSchema == b.partitionSchema && a.dataSchema == b.dataSchema, what)
    assert(a.options == b.options, what)
    assert(a.fileFormat.getClass == b.fileFormat.getClass, what)
    assert(ours.collect().toSeq == theirs.collect().toSeq, what)
  }

  test("Tables opens the relation spark.read.schema(footerSchema).parquet resolves") {
    for (sf <- Seq(TestSpark.sf, new java.io.File(TestSpark.sf).getParent + "/sf0.01"); t <- names) {
      val path = s"$sf/$t.parquet"
      if (t == "events") assertSameRelation(Tables.events(spark, sf),
        Tables.normalizeTs(spark.read.schema(Tables.eventsSchema(spark, path)).parquet(path)), path)
      else assertSameRelation(Tables.table(spark, sf, t),
        spark.read.schema(Tables.footerSchema(spark, path)).parquet(path), path)
    }
    // partition discovery over a k=v directory tree
    val dir = Scratch.fresh("tables_relation_parted")
    val parted = s"$dir/p.parquet"
    spark.range(0, 12, 1, 3).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(parted)
    val ours = Tables.table(spark, dir, "p")
    assertSameRelation(ours,
      spark.read.schema(Tables.footerSchema(spark, parted)).parquet(parted), parted)
    assert(relationOf(ours).partitionSchema.fieldNames.toSeq == Seq("k"))
  }

  test("footerSchema skips _SUCCESS and .crc files in a Spark-written directory") {
    val dir = Scratch.fresh("tables_spark_written")
    val out = s"$dir/t.parquet"
    spark.range(0, 40, 1, 4)
      .select(col("id"), (col("id") % 3).as("k"),
        col("id").cast("decimal(12,2)").as("amt"),
        struct(col("id").cast("string").as("s")).as("nested"),
        timestamp_micros(col("id")).as("at"))
      .write.parquet(out)
    val names = new java.io.File(out).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(Tables.footerSchema(spark, out) == spark.read.parquet(out).schema)

    val parted = s"$dir/p.parquet"
    spark.read.parquet(out).write.partitionBy("k").parquet(parted)
    assert(Tables.table(spark, dir, "p").schema == spark.read.parquet(parted).schema)
    assert(Tables.table(spark, dir, "p").count() == 40)
  }

  test("opening a table starts no Spark job") {
    assert(jobsDuring(spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")) > 0,
      "the counter must see the inference job Spark's own read starts")
    assert(jobsDuring(Tables.lineitem(spark, TestSpark.sf)) == 0)
    assert(jobsDuring(Tables.events(spark, TestSpark.sf)) == 0)
  }

  test("a missing path fails with an error naming the path") {
    val e = intercept[Exception](Tables.lineitem(spark, "/nonexistent/graft_sf"))
    assert(e.getMessage.contains("/nonexistent/graft_sf/lineitem.parquet"), e.getMessage)
  }

  test("a µs events file leaves nanosAsLong unset") {
    val s = spark.newSession()
    val before = s.conf.getOption(nanosAsLong)
    assert(Tables.events(s, TestSpark.sf).schema("ts").dataType == TimestampType)
    assert(StreamQueries.streamEvents(s, TestSpark.sf).schema("ts").dataType == TimestampType)
    assert(s.conf.getOption(nanosAsLong) == before)
  }

  test("a ns events file loads to the same µs timestamps") {
    val dir = Scratch.fresh("tables_ns")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val micros = Seq(0L, 1700000000123456L, 1700000060654321L)
    val conf = new Configuration()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withConf(conf).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", us * 1000))
    } finally w.close()

    val s: SparkSession = spark.newSession()
    val ev = Tables.events(s, dir)
    assert(s.conf.getOption(nanosAsLong).contains("true"))
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      == micros)
    assert(StreamQueries.streamEvents(s, dir).schema("ts").dataType == TimestampType)
  }

  test("Tables.sql binds fixtures in subqueries and CTE bodies, and leaves a same-named view alone") {
    val s = spark.newSession()
    s.range(3).toDF("o_custkey").createOrReplaceTempView("orders")
    val viaSql = Tables.sql(s, TestSpark.sf,
      """WITH t AS (SELECT o_custkey FROM orders)
        |SELECT COUNT(*) FROM customer c
        |WHERE EXISTS (SELECT 1 FROM t WHERE t.o_custkey = c.c_custkey)""".stripMargin)
      .head().getLong(0)
    val expected = Tables.customer(s, TestSpark.sf)
      .join(Tables.orders(s, TestSpark.sf), col("c_custkey") === col("o_custkey"), "left_semi")
      .count()
    assert(viaSql == expected && expected > 3)
    // A self-join gets distinct attribute ids: 25 nations, 5 per region.
    assert(Tables.sql(s, TestSpark.sf,
      "SELECT COUNT(*) FROM nation n1 JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey")
      .head().getLong(0) == 125L)
    assert(s.table("orders").count() == 3L, "the caller's view was replaced")
    assert(s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq
      == Seq("orders"))
  }
}
