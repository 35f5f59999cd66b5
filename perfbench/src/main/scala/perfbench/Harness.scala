package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{CacheHygiene, SparkEntry, Tables}

/** The JVM side of the benchmark. `run.py` writes a JSON config, launches
  * this main, and reads back one JSON result; every statistic is computed
  * in Python.
  *
  * A run is: `setups` session set-ups (each a fresh session, with fresh
  * temp state, that loads every fixture table; the run keeps the last
  * one), an untimed check pass that runs each roster query once and dumps
  * its result for the oracle compare (it also builds the lakes), then the
  * timed window. One client runs the roster in a seeded order, pass after
  * pass, until the window has lasted `seconds`, it has finished
  * `min_passes` passes, and the pass count is odd. The traced run times an
  * untraced, a traced and another untraced window, so that the traced one
  * can be compared with the mean of its neighbours in one process.
  *
  * The library is driven only through `SparkEntry.queries`, a full
  * materialization of the returned DataFrame (`HashSink`), and `Tables`. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Wall-clock milliseconds with sub-millisecond resolution, on the same
    * epoch as Spark's listener timestamps. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (epochNs + System.nanoTime()) / 1e6

  def drainListenerBus(spark: SparkSession): Unit =
    ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def session(cpus: Int, runDir: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$runDir/spark-local")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .getOrCreate()

  /** Materialize every row and column of `df` into the hashing sink. */
  def materialize(df: DataFrame, id: String): HashSink.Digest = {
    df.write.format(classOf[HashSink].getName).mode("append").option("id", id).save()
    HashSink.take(id).getOrElse(throw new IllegalStateException(s"no digest for $id"))
  }

  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  /** Heap in use after full collections, in MB. Queued listener events hold
    * memory until they are delivered, so drain the bus first. Spark's
    * cleaner releases blocks only after a collection has found their owners
    * unreachable, so collect until the heap stops shrinking by more than
    * 1 MB. */
  private def liveHeapMb(spark: SparkSession): Double = {
    drainListenerBus(spark)
    def used(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, rounds) = (Double.MaxValue, used(), 1)
    while (prev - cur > 1.0 && rounds < 6) {
      prev = cur; cur = used(); rounds += 1
    }
    cur
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readString(Paths.get(args(0))))
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    val fixtures = cfg.get("fixtures").asText
    val runDir = cfg.get("run_dir").asText
    val cpus = cfg.get("cpus").asInt
    val roster = strings(cfg.get("roster"))
    val orders: Seq[Seq[Int]] = cfg.get("orders").elements().asScala.map(
      _.elements().asScala.map(_.asInt).toSeq).toSeq
    val catalog = SparkEntry.queries
    val unknown = roster.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("oracle") = roster.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    // Set-ups: the first is cold and counts from the JVM launch; the later
    // ones count from the previous session's stop.
    var spark: SparkSession = null
    val setups = (0 until cfg.get("setups").asInt).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) cfg.get("launch_ms").asDouble else nowMs()
      // Each set-up gets fresh temp state, so lakes and checkpoints rebuild.
      val tmp = Files.createDirectories(Paths.get(runDir, s"tmp-$i")).toString
      System.setProperty("java.io.tmpdir", tmp)
      spark = session(cpus, runDir)
      spark.sparkContext.setLogLevel("ERROR")
      tables.foreach { case (_, load) => load(spark, fixtures).schema }
      (nowMs() - t0) / 1e3
    }
    out("setups_s") = setups

    // Check pass, untimed: one execution per query, dumped for the oracle
    // compare and hashed from the dump.
    val checkT0 = nowMs()
    out("check") = roster.sorted.map { name =>
      val dump = s"$runDir/dump/$name"
      val rec = mutable.LinkedHashMap[String, Any]("q" -> name)
      val t0 = nowMs()
      try {
        spark.sparkContext.setJobGroup(s"check-$name", name)
        catalog(name)(spark, fixtures).coalesce(1).write.mode("overwrite").parquet(dump)
        val d = materialize(spark.read.parquet(dump), s"check-$name")
        rec ++= Seq("ok" -> true, "rows" -> d.rows, "hash" -> d.hash, "dump" -> dump)
      } catch { case e: Throwable => rec ++= Seq("ok" -> false, "err" -> message(e)) }
      finally {
        spark.sparkContext.clearJobGroup()
        CacheHygiene.clear(spark)
      }
      rec("ms") = nowMs() - t0
      rec
    }
    out("check_s") = (nowMs() - checkT0) / 1e3

    val seconds = cfg.get("seconds").asDouble
    val minPasses = cfg.get("min_passes").asInt
    val traced = cfg.get("trace").asBoolean
    val windows = (if (traced) Seq(false, true, false) else Seq(false)).zipWithIndex.map {
        case (withTrace, w) =>
      val tracer = if (withTrace) Some(new Tracer) else None
      tracer.foreach(_.register(spark))
      val tableLoads = if (withTrace) tables.map { case (t, load) =>
        val reps = (0 until 3).map { _ =>
          val t0 = nowMs(); load(spark, fixtures).schema; (nowMs() - t0) / 1e3
        }
        t -> reps.sorted.apply(1)
      }.toMap else Map.empty[String, Double]
      val (gc0, jit0) = (gcMs(), jitMs())
      val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
      val heapMb = mutable.ArrayBuffer.empty[Double]
      var heapGcMs = 0L
      val start = nowMs()
      val it = orders.iterator.zipWithIndex
      var done = 0
      while (it.hasNext &&
          (done < minPasses || nowMs() - start < seconds * 1e3 || done % 2 == 0)) {
        val (order, p) = it.next()
        order.foreach { k =>
          val name = roster(k)
          val g = s"w$w-$p-$name"
          spark.sparkContext.setJobGroup(g, name)
          val cgBefore = codegen()
          val t0 = nowMs()
          var t1 = t0
          val rec = mutable.LinkedHashMap[String, Any]("q" -> name, "p" -> p, "g" -> g)
          try {
            val df = catalog(name)(spark, fixtures)
            t1 = nowMs()
            val d = materialize(df, g)
            rec ++= Seq("ok" -> true, "rows" -> d.rows, "hash" -> d.hash)
          } catch { case e: Throwable => rec ++= Seq("ok" -> false, "err" -> message(e)) }
          val t2 = nowMs()
          val cgAfter = codegen()
          spark.sparkContext.clearJobGroup()
          rec ++= Seq("s" -> t0, "b" -> t1, "e" -> t2,
            "codegen_n" -> (cgAfter._1 - cgBefore._1), "codegen_ns" -> (cgAfter._2 - cgBefore._2),
            "cached_rdds" -> spark.sparkContext.getPersistentRDDs.size)
          val h0 = nowMs()
          CacheHygiene.clear(spark)
          rec("clear_ms") = nowMs() - h0
          execs += rec.toMap
        }
        done += 1
        // Between passes, outside every timed span. Its collections are the
        // benchmark's, not the program's, so they leave `gc_ms`.
        val g = gcMs()
        heapMb += liveHeapMb(spark)
        heapGcMs += gcMs() - g
      }
      val (gc1, jit1) = (gcMs(), jitMs())
      tracer.foreach(_.unregister(spark))
      Map("execs" -> execs,
        "gc_ms" -> (gc1 - gc0 - heapGcMs), "jit_ms" -> (jit1 - jit0),
        "heap_mb" -> heapMb,
        "tables_s" -> tableLoads,
        "events" -> tracer.map(_.drain()).getOrElse(Nil))
    }
    out("windows") = windows
    out("env") = Map(
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "cpus" -> cpus, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq)
    spark.stop()
    mapper.writeValue(Paths.get(cfg.get("out").asText).toFile, out)
  }
}
