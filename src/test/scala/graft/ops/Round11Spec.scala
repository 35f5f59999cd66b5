package graft.ops

import graft.{SparkEntry, Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 pins: the Lakehouse completions — vacuum retention arithmetic,
  * the file-diff change feed, stats-based skipping losslessness, and the
  * z-order-vs-linear pruning tradeoff — each asserted against values
  * recomputed independently from the raw fixture (the DuckDB oracle gates
  * the same queries; these tests pin the PHYSICAL claims the oracle's
  * closed forms encode, so a regression points at the file layer, not the
  * algebra). */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val orders = Tables.orders(spark, TestSpark.sf)
    .select(col("o_orderkey").as("k"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("c"))
    .cache()

  test("layout_vacuum: retention deletes exactly the dead files, snapshot survives") {
    val r = SparkEntry.queries("layout_vacuum")(spark, TestSpark.sf)
      .collect().head
    val (before, vacuumed, after) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // Conservation: the disk lost exactly the doomed set — both sides of
    // this equation are REAL binaryFile listings, not log claims.
    assert(after == before - vacuumed)
    assert(vacuumed > 0, "fixture sanity: something must be vacuumable")
    assert(after > 0, "live files must survive")
    // The surviving snapshot is exactly the post-delete table (the lake
    // is the bounded 32768-key maintenance unit).
    val unit = orders.filter(col("k") < 32768)
    val survivors = unit.filter(col("k") % 640 =!= 0)
      .agg(count(lit(1)), sum(col("c"))).collect().head
    assert(r.getLong(3) == survivors.getLong(0))
    assert(r.getLong(4) == survivors.getLong(1))
    // Bucket algebra: untouched buckets must exist (pruning had work).
    val buckets = unit.select(expr("k div 256")).distinct().count()
    val touched = unit.filter(col("k") % 640 === 0)
      .select(expr("k div 256")).distinct().count()
    assert(vacuumed == touched)
    assert(touched < buckets, "some buckets must be untouched")
  }

  test("layout_cdf: the file-diff feed reconstructs the change batch exactly") {
    val rows = SparkEntry.queries("layout_cdf")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("copy", "delete", "insert", "update"),
      "all four change types must appear on the fixture")
    val unit = orders.filter(col("k") < 65536) // the bounded maintenance unit
    val nDel = unit.filter(col("k") % 1344 === 0).count()
    val nUpd = unit.filter(col("k") % 1344 =!= 0 && col("k") % 576 === 0)
      .count()
    val nIns = unit.filter(col("k") % 960 === 0).count()
    assert(rows("delete")._1 == nDel)
    assert(rows("update")._1 == nUpd)
    assert(rows("insert")._1 == nIns)
    // Deletes have no post-image, inserts no pre-image.
    assert(rows("delete")._3 == 0L)
    assert(rows("insert")._2 == 0L)
    // The update rule is cents+7 per row; copies are bit-identical. This
    // is the row-level proof that the CoW rewrite changed ONLY what the
    // batch said and the feed derived it back from nothing but file sets.
    assert(rows("update")._3 - rows("update")._2 == 7L * nUpd)
    assert(rows("copy")._2 == rows("copy")._3)
    assert(rows("copy")._1 > 0, "CoW amplification rows must exist")
  }

  test("layout_stats_skipping: pruned scans are lossless and actually prune") {
    val rows = SparkEntry.queries("layout_stats_skipping")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (total, keyScanned, keyRows, keyCents) = rows("key")
    // The clustered-key band must skip files; the unclustered cents band
    // must scan at least as many — the measured case FOR z-ordering.
    assert(keyScanned < total, "key-band stats pruning must skip files")
    assert(rows("cents")._2 >= keyScanned)
    // Losslessness: the pruned+residual scan equals the raw predicate.
    val b = orders.agg(max(col("k")).as("maxk")).collect().head.getLong(0)
    val direct = orders
      .filter(col("k") >= lit(b / 4) && col("k") <= lit(b / 2))
      .agg(count(lit(1)), sum(col("c"))).collect().head
    assert(keyRows == direct.getLong(0))
    assert(keyCents == direct.getLong(1))
  }

  test("layout_deletion_vectors: merge-on-read deletes nothing physically") {
    val rows = SparkEntry.queries("layout_deletion_vectors")(spark, TestSpark.sf)
      .collect()
    assert(rows.forall(_.getLong(5) == 0L), "DV commits rewrite zero files")
    val nDeleted = rows.head.getLong(3)
    assert(nDeleted == orders.filter(col("k") % 544 === 0).count())
    assert(nDeleted > 0, "fixture sanity: the vector must be nonempty")
    // The reader's view is exactly the post-delete table...
    val direct = orders.filter(col("k") % 544 =!= 0).count()
    assert(rows.map(_.getLong(1)).sum == direct)
    // ...while the base lake on disk is physically intact: every bucket
    // file still present (deletes live only in the sidecar).
    val lake = spark.read.parquet(graft.Scratch.lakeDir("dv_lake", TestSpark.sf))
    assert(lake.count() == orders.count(),
      "all rows, deleted ones included, remain in the base files")
  }

  test("layout_mv_rewrite: the optimizer redirects the scan to the MV — and only when sound") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
    val df = SparkEntry.queries("layout_mv_rewrite")(spark, TestSpark.sf)
    val paths = scanPaths(df)
    val mvDir = graft.Scratch.lakeDir("mv_docs", TestSpark.sf)
    assert(paths.exists(_.contains(mvDir)),
      s"rewritten plan must scan the MV, got: $paths")
    assert(!paths.exists(_.contains("documents.parquet")),
      "rewritten plan must not touch the base corpus")
    // Answers are unchanged: compare against the same query with the
    // rule uninstalled.
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_.isInstanceOf[graft.plans.MvAggRewrite])
      val base = Tables.documents(spark, TestSpark.sf)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
      assert(!scanPaths(base).exists(_.contains(mvDir)))
      assert(base.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == got.toSeq)
    } finally spark.experimental.extraOptimizations = saved
    // Non-derivable aggregates must fall through to the base scan: the
    // rule may change plans, never answers.
    val avgDf = Tables.documents(spark, TestSpark.sf)
      .groupBy(col("lang")).agg(avg(col("n_chars")).as("m"))
    assert(scanPaths(avgDf).exists(_.contains("documents.parquet")),
      "AVG is not derivable from the summary and must not rewrite")
    val distinctDf = Tables.documents(spark, TestSpark.sf)
      .groupBy(col("lang")).agg(countDistinct(col("source")).as("nd"))
    assert(scanPaths(distinctDf).exists(_.contains("documents.parquet")),
      "DISTINCT aggregates must not rewrite")
  }

  test("layout_zorder_exec: same answers through both layouts, curve prunes y") {
    val rows = SparkEntry.queries("layout_zorder_exec")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // Layout changes cost, never answers: both layouts return identical
    // rows and cents for each band predicate.
    for (p <- Seq("x", "y")) {
      assert(rows(("linear", p))._3 == rows(("zorder", p))._3)
      assert(rows(("linear", p))._4 == rows(("zorder", p))._4)
      assert(rows(("linear", p))._3 > 0, s"fixture sanity: $p band nonempty")
    }
    // Linear layout: x-band hits exactly one 64-wide file; y-band cannot
    // prune (every x-file spans the y range on this data).
    assert(rows(("linear", "x"))._2 == 1)
    assert(rows(("linear", "y"))._2 == rows(("linear", "y"))._1)
    // The curve: each z-file fixes two bits of BOTH dims, so a 64-wide
    // y-band intersects at most 4 of 16 boxes — strictly fewer files than
    // the linear layout's full scan, at any sf.
    assert(rows(("zorder", "y"))._2 < rows(("linear", "y"))._2)
    assert(rows(("zorder", "y"))._2 <= 4)
    assert(rows(("zorder", "x"))._2 <= 4,
      "x-band touches only boxes with matching x-bits")
  }
}
