package graft.sources

import graft.{Scratch, SparkEntry, Tables, TestSpark}
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drives [[TxnProtocol]]'s optimistic commit loop with genuinely racing
  * writers on one lake: both prepare disjoint compactions from snapshot
  * v0, race for v1, the loser rebases; a third stale writer whose
  * write-set overlaps a committed removal must abort. This is the
  * commit-atomicity contract under CONTENTION — the single-writer path is
  * oracle-gated by layout_time_travel / layout_vacuum / layout_cdf. The
  * second test races the cached-lake builds ([[Scratch.lake]]) of four
  * queries from four threads on one session; the third runs SQL shapes on
  * two fixture dirs, connected components and a graft kernel from four
  * threads on one session. */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("two disjoint compactions race: one claim each, both land, stale overlap aborts") {
    val root = Files.createTempDirectory("graft_occ_").toString
    val base = s"$root/base"
    val logDir = s"$root/log"
    Tables.customer(spark, TestSpark.sf)
      .select(col("c_custkey"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"),
        (col("c_custkey") % 4).as("fb"))
      .repartition(col("fb"))
      .write.mode("overwrite").partitionBy("fb").parquet(base)
    def baseDf = spark.read.option("basePath", base).parquet(base)
      .select(col("c_custkey"), col("cents"), col("fb").cast("long").as("fb"),
        col("_metadata.file_path").as("path"))
    // Commit 0 through the protocol.
    assert(TxnProtocol.claim(logDir, 0))
    TxnProtocol.commit(logDir, 0, baseDf)
    val expected = baseDf.agg(count(lit(1)), sum(col("cents")))
      .collect().head
    val (nRows, totCents) = (expected.getLong(0), expected.getLong(1))

    // Both writers PREPARE from snapshot v0 (data files land before any
    // claim — invisible until a log version references them).
    case class Prepared(removes: DataFrame, adds: DataFrame, readV: Int)
    def prepare(tag: String, buckets: Seq[Int]): Prepared = {
      val epoch = s"$root/epoch_$tag"
      val mine = baseDf.filter(col("fb").isin(buckets.map(_.toLong): _*))
      mine.select(col("c_custkey"), col("cents"))
        .repartition(1)
        .write.mode("overwrite").parquet(epoch)
      val adds = spark.read.parquet(epoch)
        .select(input_file_name().as("path"))
      Prepared(mine.select(col("path")), adds, readV = 0)
    }
    val pa = prepare("a", Seq(0, 1))
    val pb = prepare("b", Seq(2, 3))

    // RACE: each writer loops claim → conflict-check → publish.
    val latch = new CountDownLatch(2)
    val claimedAt = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def commitLoop(tag: String, p: Prepared): Unit = {
      latch.countDown(); latch.await()
      var done = false
      while (!done) {
        val v = TxnProtocol.latest(logDir) + 1
        if (TxnProtocol.claim(logDir, v)) {
          assert(!TxnProtocol.removeConflicts(spark, logDir, p.readV, v - 1,
            p.removes), s"$tag rewrites disjoint buckets; rebase is safe")
          TxnProtocol.commit(logDir, v, p.adds, Some(p.removes))
          claimedAt.put(tag, v)
          done = true
        } // lost the claim: loop re-reads latest and rebases
      }
    }
    // Thrown assertions inside a Thread do not fail the suite on their
    // own — capture and rethrow after the join.
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def runner(tag: String, p: Prepared) = new Thread(() =>
      try commitLoop(tag, p)
      catch { case t: Throwable => failure.compareAndSet(null, t); () })
    val ta = runner("a", pa)
    val tb = runner("b", pb)
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    if (failure.get() != null) throw failure.get()
    assert(Set(claimedAt.get("a"), claimedAt.get("b")) == Set(1, 2),
      "exactly one writer wins each version")

    // Snapshot(2): both rewrites visible, nothing lost, files = 2 epochs.
    val log = TxnProtocol.log(spark, logDir)
    def snapshot(ver: Int): DataFrame = {
      val all = baseDf.select(col("c_custkey"), col("cents"), col("path"))
        .unionByName(Seq("a", "b").map { t =>
          spark.read.parquet(s"$root/epoch_$t")
            .withColumn("path", input_file_name())
        }.reduce(_ unionByName _))
      all.join(TxnProtocol.live(log, ver), Seq("path"), "left_semi")
    }
    val s2 = snapshot(2).agg(count(lit(1)), sum(col("cents")),
      countDistinct(col("path"))).collect().head
    assert(s2.getLong(0) == nRows, "no row lost across the racing commits")
    assert(s2.getLong(1) == totCents)
    assert(s2.getLong(2) == 2, "live files are exactly the two epochs")
    // Time travel to v0 still works (nothing vacuumed).
    val s0 = snapshot(0).agg(count(lit(1)), sum(col("cents")))
      .collect().head
    assert(s0.getLong(0) == nRows && s0.getLong(1) == totCents)

    // Stale writer C prepared from v0 wants bucket 0 again — its
    // write-set overlaps a removal it never saw: must abort.
    val cRemoves = snapshot(0)
      .filter(col("c_custkey") % 4 === 0).select(col("path")).distinct()
    val v3 = TxnProtocol.latest(logDir) + 1
    assert(v3 == 3)
    assert(TxnProtocol.claim(logDir, v3), "claims are first-come")
    assert(TxnProtocol.removeConflicts(spark, logDir, 0, v3 - 1, cRemoves),
      "bucket 0's base file was removed at v1/v2 — C must see the conflict")
    // Abort = roll back the empty claim; the log is unchanged for readers.
    Files.delete(Paths.get(logDir, s"v=$v3"))
    assert(TxnProtocol.latest(logDir) == 2)
  }

  test("four threads build the cached lakes of a fresh fixture dir: results equal a serial run") {
    // layout_mv_rewrite is left out: it installs an optimizer rule on the
    // shared session, which is not a per-query effect.
    val names = Seq("layout_history", "src_binary_files", "sink_partitioned",
      "layout_stats_skipping")
    def run(sf: String, q: String): Seq[Row] =
      SparkEntry.queries(q)(spark, sf).collect().toSeq
    val serial = names.map(q => q -> run(TestSpark.sf, q)).toMap
    // A copy of the fixtures is a new fixture dir, so every lake of these
    // queries is built for the first time below.
    val sf = Files.createTempDirectory("graft_sfcopy_")
    Files.list(Paths.get(TestSpark.sf)).iterator().asScala
      .foreach(f => Files.copy(f, sf.resolve(f.getFileName)))
    val start = new CountDownLatch(4)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val got = new java.util.concurrent.ConcurrentHashMap[(Int, String), Seq[Row]]()
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        try {
          start.countDown(); start.await()
          names.foreach(q => got.put((t, q), run(sf.toString, q)))
        } catch { case e: Throwable => failure.compareAndSet(null, e); () })
    }
    try {
      threads.foreach(_.start()); threads.foreach(_.join(600000))
      if (failure.get() != null) throw failure.get()
      for (t <- 0 until 4; q <- names) {
        val rows = got.get((t, q))
        assert(rows != null, s"thread $t never finished $q")
        assert(rows == serial(q), s"thread $t: $q differs from the serial run")
      }
    } finally {
      val lakes = Seq("hist_lake", "hist_log", "binfiles", "part_orders", "stats_lake")
      (sf.toString +: lakes.map(Scratch.lakeDir(_, sf.toString))).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("four threads run SQL shapes on two fixture dirs, connected components and graft kernels: results equal a serial run") {
    // The SQL shapes bind their fixture tables in the plan (no shared temp
    // views to swap between dirs), connected components releases only its
    // own checkpoints, and GraftFunctions.dot needs no registry write.
    val sfB = s"${new java.io.File(TestSpark.sf).getParent}/sf0.01"
    val sqlShapes = Seq("sql_q4_shape", "sql_q7_shape", "sql_lateral_topn",
      "sql_recursive_chain")
    val others = Seq("dd_lsh_clusters", "geo_density_clusters", "sim_cosine_topk")
    // Thread t runs every query, rotated by t; SQL shape i reads sf0.001
    // when i + t is even and sf0.01 otherwise, so at any moment threads
    // read the same table names from different dirs.
    def jobs(t: Int): Seq[(String, String)] = {
      val all = sqlShapes.zipWithIndex.map { case (q, i) =>
        q -> (if ((i + t) % 2 == 0) TestSpark.sf else sfB)
      } ++ others.map(_ -> TestSpark.sf)
      all.drop(t) ++ all.take(t)
    }
    def run(q: String, sf: String): Seq[Row] =
      SparkEntry.queries(q)(spark, sf).collect().toSeq
    val serial = (0 until 4).flatMap(jobs).distinct.map(j => j -> run(j._1, j._2)).toMap
    val start = new CountDownLatch(4)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val got = new java.util.concurrent.ConcurrentHashMap[(Int, String, String), Seq[Row]]()
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        try {
          start.countDown(); start.await()
          jobs(t).foreach { case (q, sf) => got.put((t, q, sf), run(q, sf)) }
        } catch { case e: Throwable => failure.compareAndSet(null, e); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join(600000))
    if (failure.get() != null) throw failure.get()
    for (t <- 0 until 4; (q, sf) <- jobs(t)) {
      val rows = got.get((t, q, sf))
      assert(rows != null, s"thread $t never finished $q at $sf")
      assert(rows == serial((q, sf)), s"thread $t: $q at $sf differs from the serial run")
    }
  }

  test("connected components leaves only its final labeling pinned") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("a_id", "b_id")
    val labels = graft.ops.LlmDedup.connectedComponents(edges)
    assert(labels.orderBy("doc_id").as[(Long, Long)].collect().toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L).map(_ -> 1L) ++ Seq(10L -> 10L, 11L -> 10L))
    // The edge list and every superseded round were released through their
    // own checkpoints; only the final labeling stays until CacheHygiene.clear.
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.size == 1, s"pinned RDDs left: $left")
    left.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
  }
}
