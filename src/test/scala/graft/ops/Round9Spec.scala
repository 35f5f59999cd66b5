package graft.ops

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the round-9 operators — invariants the DuckDB oracle
  * can't express (the oracle gates check value equality; these check the
  * *mechanics*). The round's `mm_*` tests are in MultimodalSpec. */
class Round9Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("text_bpe_encode: equals a canonical lowest-rank-first BPE encode loop") {
    // Independent reference: the textbook BPE encode — repeatedly find the
    // LOWEST-RANK merge rule whose pair occurs in the word and merge its
    // occurrences greedily left-to-right, until no rule applies. The query
    // instead applies each rule once in rank order via string replaces;
    // the two are equivalent because every rule's parts are built only
    // from strictly earlier rules (asserted below).
    val merges = LlmText.frozenMerges
    val built = scala.collection.mutable.Set[String]()
    merges.foreach { case (l, r) =>
      assert(l.length == 1 || built.contains(l), s"left part $l out of order")
      assert(r.length == 1 || built.contains(r), s"right part $r out of order")
      built += (l + r)
    }
    def canonical(w: String): Vector[String] = {
      var syms = w.map(_.toString).toVector
      var done = false
      while (!done) {
        val applicable = merges.zipWithIndex.filter { case ((l, r), _) =>
          syms.indices.dropRight(1).exists(i => syms(i) == l && syms(i + 1) == r)
        }
        if (applicable.isEmpty) done = true
        else {
          val ((l, r), _) = applicable.minBy(_._2)
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
        }
      }
      syms
    }
    val docs = graft.Tables.documents(spark, TestSpark.sf)
      .orderBy("doc_id").limit(50)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("text_bpe_encode")(spark, TestSpark.sf)
      .filter(col("doc_id") < 50).collect()
    assert(got.length == docs.size.min(50))
    got.foreach { r =>
      val id = r.getLong(0)
      val toks = docs(id).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val encoded = toks.map(canonical)
      assert(r.getLong(2) == toks.length.toLong, s"n_words doc $id")
      assert(r.getLong(3) == toks.map(_.length).sum.toLong, s"n_chars doc $id")
      assert(r.getLong(4) == encoded.map(_.length).sum.toLong, s"n_symbols doc $id")
      val stream = encoded
        .map(_.map(sym => "<" + sym + ">").mkString).mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(stream.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(5) == md, s"enc_md5 doc $id")
    }
  }

  test("sim_knn_descent: never worse than the base graph, and strictly refines somewhere") {
    val base = SparkEntry.queries("sim_knn_graph")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val desc = SparkEntry.queries("sim_knn_descent")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(desc.nonEmpty)
    // The candidate set is a superset of the base edges, so at each rank
    // the descended score dominates the base score.
    base.foreach { case (key @ (u, rank), (_, s0)) =>
      desc.get(key).foreach { case (_, s1) =>
        assert(s1 >= s0, s"rank-$rank score regressed for node $u: $s1 < $s0")
      }
    }
    assert(desc.exists { case (k, (_, s1)) =>
      base.get(k).exists { case (_, s0) => s1 > s0 } },
      "descent round changed no score at all")
    // And the recall monitor must agree: descended recall >= base recall.
    val r = SparkEntry.queries("sim_knn_recall")(spark, TestSpark.sf).collect()(0)
    assert(r.getDouble(5) >= r.getDouble(4))
  }

  test("dd_bloom_state: rolled-forward state equals a from-scratch build over all docs") {
    import org.apache.spark.sql.functions._
    // Running the query materializes run-1 state AND run-2's merged state.
    SparkEntry.queries("dd_bloom_state")(spark, TestSpark.sf).collect()
    val stateDir = LlmDedup.bloomStateDir(TestSpark.sf)
    val docs = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
    // From-scratch bloom over the WHOLE corpus (existing ∪ batch).
    val scratch = docs
      .select(explode(array((0 to 3).map(j =>
        conv(substring(col("h"), 1 + 8 * j, 8), 16, 10).cast("long") % 4096): _*))
        .as("p"))
      .select(expr("p div 64").as("word"), (col("p") % 64).as("bit"))
      .groupBy(col("word"))
      .agg(bit_or(expr("shiftleft(1L, CAST(bit AS INT))")).as("mask"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rolled = spark.read.parquet(s"$stateDir/bloom_next")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rolled == scratch, "merged bloom words != from-scratch bloom words")
    val scratchKeys = docs.select(col("h")).distinct().collect()
      .map(_.getString(0)).toSet
    val rolledKeys = spark.read.parquet(s"$stateDir/keys_next")
      .collect().map(_.getString(0)).toSet
    assert(rolledKeys == scratchKeys, "merged key store != from-scratch keys")
  }

  test("agg_equidepth_sketch: every bucket within 5% of equal frequency") {
    val rows = SparkEntry.queries("agg_equidepth_sketch")(spark, TestSpark.sf)
      .collect()
    assert(rows.length == 8)
    val total = rows.map(_.getLong(1)).sum
    val ideal = total / 8.0
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(math.abs(n - ideal) <= ideal * 0.05,
        s"bucket ${r.getInt(0)} holds $n rows vs ideal $ideal")
    }
    // Bucket ranges must tile the value domain in order.
    val sorted = rows.sortBy(_.getInt(0))
    sorted.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(2))
      case _ =>
    }
  }
}
