package graft.ops

import graft.TestSpark
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the LLM-pipeline operators on synthetic corpora
  * (the oracle gate covers fixture correctness; these pin semantics). */
class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Write a synthetic `documents` table and return its dir. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("graft_docs").toString
    rows.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("minhash LSH finds identical and near-identical docs, skips unrelated") {
    val d = docsDir(Seq(
      1L -> base,
      2L -> base,                                   // exact dup
      3L -> base.replace("lazy", "sleepy"),         // near dup
      4L -> "completely different words about spark query engines and columnar io"))
    val pairs = LlmDedup.minhashCandidatePairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 3L && j > 0.5 })
    assert(!pairs.exists { case (a, b, _) => b == 4L })
  }

  test("minhash bands UDTF: 16 rows per doc, dup docs collide in every band") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.TextFunctions._
    val d = docsDir(Seq(1L -> base, 2L -> base,
      4L -> "completely different words about spark query engines and columnar io"))
    val bands = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), minhash32(shingles3(col("text"))).as("mh"))
      .select(col("doc_id"), minhashBands(col("mh")).as(Seq("band", "sig")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(bands.count(_._1 == 1L) == 16)
    val sigs = bands.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(sigs(1L) == sigs(2L), "identical docs must collide in all bands")
    assert(sigs(1L) != sigs(4L), "unrelated docs must not collide everywhere")
    // NULL / too-short signature generates zero rows (explode-of-NULL contract)
    val empty = spark.range(1)
      .select(lit(null).cast("array<bigint>").as("mh"))
      .select(minhashBands(col("mh")).as(Seq("band", "sig")))
    assert(empty.count() == 0)
  }

  test("lsh clusters: dup trio forms one component labeled by min doc_id") {
    val d = docsDir(Seq(
      1L -> base, 2L -> base, 3L -> base.replace("lazy", "sleepy"),
      4L -> "completely different words about spark query engines and columnar io"))
    val rows = new graft.api.DedupPipeline().run(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("simhash: identical docs equal; near dups within small hamming distance") {
    val d = docsDir(Seq(
      1L -> base, 2L -> base,
      3L -> base.replace("lazy", "sleepy"),
      4L -> "totally unrelated content on partitioned parquet scans at scale"))
    val m = LlmDedup.simhash(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(m(1L) == m(2L))
    assert(hamming(m(1L), m(3L)) <= 8)
    assert(hamming(m(1L), m(4L)) > 8)
  }

  test("ngram jaccard: dup pair scores 1.0 and ranks first") {
    val d = docsDir(Seq(
      1L -> base, 2L -> base,
      3L -> "some other text entirely that shares nothing with the rest maybe"))
    val rows = LlmDedup.ngramJaccardPairs(spark, d).collect()
    assert(rows.head.getLong(2) == 1L && rows.head.getLong(3) == 2L &&
      rows.head.getDouble(4) == 1.0)
  }

  test("exact dedup groups identical texts under one representative") {
    val d = docsDir(Seq(1L -> base, 2L -> base, 3L -> "unique text here now ok"))
    val rows = LlmDedup.exact(spark, d)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.contains((1L, 2L)))   // keep doc 1, multiplicity 2
    assert(rows.contains((3L, 1L)))
  }

  test("cosine top-k: every query gets k rows, scores in [-1,1] descending") {
    val rows = LlmSimilarity.cosineTopK(spark, TestSpark.sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 5 && byQ.values.forall(_.length == 5))
    byQ.values.foreach { rs =>
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("percentile_approx within 2% of exact percentile at sf0.001") {
    val approx = Aggs.approxQuantiles(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Aggs.quantiles(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) / p50 < 0.02, s"$k p50 $a50 vs $p50")
      assert(math.abs(a90 - p90) / p90 < 0.02, s"$k p90 $a90 vs $p90")
    }
  }

  test("approx_count_distinct within 5% of exact at sf0.001") {
    val approx = Aggs.approxDistinct(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.lineitem(spark, TestSpark.sf)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("p"), countDistinct($"l_orderkey").as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (p, o)) =>
      assert(math.abs(approx(k)._1 - p).toDouble / p < 0.05)
      assert(math.abs(approx(k)._2 - o).toDouble / o < 0.05)
    }
  }

  test("vector-mean Aggregator matches sorted-fold centroids to 1e-9") {
    val vm = udaf(graft.functions.VectorMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    val got = graft.Tables.embeddings(spark, TestSpark.sf)
      .groupBy($"label").agg(vm($"embedding").as("centroid"))
      .select($"label", posexplode($"centroid").as(Seq("pos", "mean")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val expected = LlmSimilarity.centroids(spark, TestSpark.sf)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"centroid $k: ${got(k)} vs $v")
    }
  }

  test("winnowing fingerprints: identical docs match, prefix shift keeps overlap") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    def fp(text: String): Set[Long] =
      graft.functions.WinnowingFingerprint(Literal(UTF8String.fromString(text),
          org.apache.spark.sql.types.StringType), 8, 4)
        .nullSafeEval(UTF8String.fromString(text))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .toLongArray().toSet
    val t = "the quick brown fox jumps over the lazy dog while spark shuffles partitions"
    assert(fp(t) == fp(t))
    val shifted = fp("PREFIX " + t)
    val overlap = fp(t).intersect(shifted).size.toDouble / fp(t).size
    assert(overlap > 0.6, s"winnowing not shift-robust: $overlap")
    assert(fp(t).intersect(fp("completely different content here entirely")).isEmpty)
  }

  test("semdedup: flags exactly the known sf0.001 dup, keeps its lower-id twin") {
    val out = LlmSimilarity.semDedup(spark, graft.TestSpark.sf).collect()
    assert(out.length == 500)
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 7), "cells must be 0..7")
    val dups = out.filter(_.getInt(2) == 1).map(_.getLong(0)).toSeq
    // pair (171, 358) has cosine 0.4700 > tau and shares a cell; 358 is the
    // higher id so it is dropped and 171 (the canonical representative) kept
    assert(dups == Seq(358L), s"expected exactly vec 358 flagged, got $dups")
    assert(out.find(_.getLong(0) == 171L).get.getInt(2) == 0)
  }

  test("semdedup never flags a cell's lowest-id vector (a representative survives)") {
    val out = LlmSimilarity.semDedup(spark, graft.TestSpark.sf)
      .groupBy(col("cell")).agg(
        min(col("vec_id")).as("min_id"),
        min(when(col("is_dup") === 1, col("vec_id"))).as("min_dup"))
      .collect()
    out.foreach { r =>
      if (!r.isNullAt(2))
        assert(r.getLong(2) > r.getLong(1),
          s"cell ${r.getLong(0)}: lowest id must never be a dup")
    }
  }
}
