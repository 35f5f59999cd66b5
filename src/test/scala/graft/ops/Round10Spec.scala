package graft.ops

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 pins: the executed compaction's physical layout. The round's
  * `mm_*` decode tests are in MultimodalSpec. */
class Round10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("layout_merge_exec: copy-on-write prunes — untouched buckets never rewrite") {
    val rows = SparkEntry.queries("layout_merge_exec")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.head.getLong(3)
    val rewritten = rows.head.getLong(4)
    assert(rewritten > 0, "the CDC batch must touch some buckets")
    // Expected bucket arithmetic recomputed from the fixture: the change
    // rules touch base buckets holding a %448/%1280 key plus fresh insert
    // buckets; pruning must leave every other base bucket alone.
    val o = graft.Tables.orders(spark, TestSpark.sf)
      .filter(col("o_orderkey") < 65536) // the bounded maintenance unit
      .select(col("o_orderkey").as("k"))
    val baseBuckets = o.select(expr("k div 256").as("fb")).distinct().count()
    val touchedBase = o.filter(col("k") % 1280 === 0 || col("k") % 448 === 0)
      .select(expr("k div 256").as("fb")).distinct().count()
    val insertBuckets = o.filter(col("k") % 640 === 0)
      .select(expr("(k + 16777216) div 256").as("fb")).distinct().count()
    assert(total == baseBuckets, "total must count the real base files")
    assert(rewritten <= touchedBase + insertBuckets,
      "rewritten files must not exceed the planned touched set")
    assert(touchedBase < baseBuckets || baseBuckets <= 1,
      "fixture sanity: pruning must have something to skip")
  }

  test("layout_scd2_exec: versioning arithmetic and pruning hold on the fixture") {
    val rows = SparkEntry.queries("layout_scd2_exec")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    val total = rows.head.getLong(4)
    val rewritten = rows.head.getLong(5)
    val o = graft.Tables.customer(spark, TestSpark.sf)
      .filter(col("c_custkey") < 8192) // the bounded maintenance unit
      .select(col("c_custkey").as("k"))
    val baseBuckets = o.select(expr("k div 64").as("fb")).distinct().count()
    val touchedBuckets = o.filter(col("k") % 96 === 0)
      .select(expr("k div 64").as("fb")).distinct().count()
    val nUpdated = o.filter(col("k") % 96 === 0).count()
    assert(total == baseBuckets, "total must count the real base files")
    assert(rewritten == touchedBuckets,
      "exactly the touched buckets must rewrite (closing keeps rows, so " +
        "none can vanish)")
    assert(touchedBuckets < baseBuckets, "pruning must have skipped buckets")
    // SCD2 row algebra: every updated key contributes one closed + one
    // opened version; current rows = all keys, closed rows = updates.
    val nKeys = o.count()
    val current = rows.filter(_.getInt(0) == 1).map(_.getLong(2)).sum
    val closed = rows.filter(_.getInt(0) == 0).map(_.getLong(2)).sum
    assert(current == nKeys, "one current version per key after the merge")
    assert(closed == nUpdated, "one closed version per updated key")
  }

  test("layout_time_travel: snapshots see exactly their commit's files") {
    val rows = SparkEntry.queries("layout_time_travel")(spark, TestSpark.sf)
      .orderBy("version").collect()
    assert(rows.length == 2)
    val (v0, v1) = (rows(0), rows(1))
    // v0 must still show the pre-delete table even though commit 1's data
    // files exist on disk when the snapshot is read — log replay, not
    // directory listing, decides visibility.
    val nOrders = graft.Tables.orders(spark, TestSpark.sf)
      .filter(col("o_orderkey") < 65536).count() // the bounded unit
    assert(v0.getLong(1) == nOrders, "snapshot 0 must be the full base table")
    assert(v1.getLong(1) < v0.getLong(1), "commit 1 deleted rows")
    assert(v1.getLong(3) < v0.getLong(3),
      "commit 1 pair-packed touched buckets, so live files must shrink")
  }

  test("layout_compaction_exec: compacted lake has fewer files, same rows") {
    val rows = SparkEntry.queries("layout_compaction_exec")(spark, TestSpark.sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lang = r.getString(0)
      assert(r.getLong(1) > r.getLong(4),
        s"$lang: compaction must reduce file count " +
          s"(${r.getLong(1)} -> ${r.getLong(4)})")
      assert(r.getLong(2) == r.getLong(5), s"$lang: row count must survive")
      assert(r.getLong(3) == r.getLong(6), s"$lang: content checksum must survive")
    }
  }
}
