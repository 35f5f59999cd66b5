package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the corpus-construction operators (the oracle gate
  * proves cross-engine value parity; these pin the semantics). */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("corpus_split: deterministic, exhaustive, and roughly 80/10/10") {
    val out = Corpus.hashSplit(spark, TestSpark.sf)
    val total = out.agg(sum("n_docs")).head.getLong(0)
    val nDocs = graft.Tables.documents(spark, TestSpark.sf).count()
    assert(total == nDocs, "every doc lands in exactly one split")
    val bySplit = out.groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    val trainFrac = bySplit("train").toDouble / nDocs
    assert(trainFrac > 0.70 && trainFrac < 0.90, s"train frac $trainFrac")
    // rerun → identical assignment (hash split has no RNG state)
    val again = Corpus.hashSplit(spark, TestSpark.sf)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("corpus_pack: token conservation and bounded bin overflow") {
    val docs = graft.Tables.documents(spark, TestSpark.sf)
      .select(col("lang"),
        size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .as("n_tokens"))
    val corpusTokens = docs.agg(sum("n_tokens")).head.getLong(0)
    val maxDocTokens = docs.agg(max("n_tokens")).head.getInt(0)

    val out = Corpus.packSequences(spark, TestSpark.sf).collect()
    assert(out.map(_.getAs[Long]("seq_tokens")).sum == corpusTokens,
      "packing must conserve every token")
    // contiguous fill: a sequence exceeds the budget by at most one doc
    out.foreach { r =>
      val t = r.getAs[Long]("seq_tokens")
      assert(t < 512L + maxDocTokens,
        s"sequence ${r.getAs[Long]("seq_id")} holds $t tokens")
    }
    // doc ranges within a lang are non-overlapping and ordered by seq_id
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("seq_id"))
      sorted.sliding(2).foreach { pair =>
        if (pair.length == 2)
          assert(pair(0).getAs[Long]("last_doc") < pair(1).getAs[Long]("first_doc"))
      }
    }
  }

  test("text_repetition: fraction bounds and distinct-ratio sanity") {
    val rows = Corpus.repetition(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val twf = r.getAs[Double]("top_word_frac")
      assert(twf > 0.0 && twf <= 1.0, s"top_word_frac $twf")
      assert(r.getAs[Long]("n_distinct") <= n)
      assert(r.getAs[Long]("top_bigram_n") <= math.max(n - 1, 0))
      val dr = r.getAs[Double]("distinct_ratio")
      assert(dr > 0.0 && dr <= 1.0)
    }
  }

  test("pipeline_corpus: curation only ever removes docs, and removes the right ones") {
    val out = graft.SparkEntry.queries("pipeline_corpus")(spark, TestSpark.sf)
    val kept = out.agg(sum("n_docs")).head.getLong(0)
    val nonBench = graft.Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 53 =!= 0).count()
    assert(kept > 0 && kept < nonBench,
      "pipeline must keep a nonempty strict subset of non-benchmark docs")
    // every contaminated doc is really gone: the corpus stats can't include
    // more docs than (non-bench minus contaminated)
    val contaminated = Corpus.decontaminate(spark, TestSpark.sf).count()
    assert(kept <= nonBench - contaminated)
  }

  test("text_decontaminate: benchmark docs never self-report; overlaps are real") {
    val out = Corpus.decontaminate(spark, TestSpark.sf).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 53 != 0,
        "a benchmark doc must not appear as contaminated")
      assert(r.getAs[Long]("n_overlap") >= 1)
    }
  }

  test("corpus_token_budget: per-lang budget never exceeded, and the " +
    "selection is greedy (adding the next-ranked doc would overflow)") {
    val rows = Corpus.tokenBudget(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("budget_used") <= 2000L)
      assert(r.getAs[Long]("budget_used") == r.getAs[Long]("total_tokens"))
      assert(r.getAs[Long]("n_docs") > 0L)
    }
  }

  test("corpus_source_quota: hard cap per source, deterministic across runs") {
    val out = Corpus.sourceQuota(spark, TestSpark.sf)
    val perSource = out.groupBy("source").count().collect()
    assert(perSource.nonEmpty)
    perSource.foreach(r => assert(r.getAs[Long]("count") <= 15))
    // stability: the kept set is a pure function of the data
    val again = Corpus.sourceQuota(spark, TestSpark.sf)
    assert(out.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
  }

  test("corpus_global_ids: ids are a contiguous 0..N-1 permutation " +
    "agreeing with the (lang, doc_id) total order") {
    val out = Corpus.globalIds(spark, TestSpark.sf).collect()
    val n = out.length
    assert(out.map(_.getAs[Long]("gid")).toSet == (0L until n).toSet)
    // gid order ≡ (lang, doc_id) lexicographic order
    val sorted = out.sortBy(_.getAs[Long]("gid"))
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    assert(sorted.sameElements(sorted.sorted), "gid must follow (lang, doc_id)")
  }

  test("text_boilerplate: fractions bounded, keep flag consistent, " +
    "boiler shingles really are corpus-common") {
    val rows = Corpus.boilerplate(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getAs[Double]("boiler_frac")
      assert(f >= 0.0 && f <= 1.0)
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_sh"))
      assert((r.getAs[Int]("keep") == 1) == (f <= 0.20), s"keep flag wrong at $f")
    }
  }

  test("corpus_interleave: positions are a permutation and round-robin " +
    "across sources (rank r of every source precedes rank r+1 of any)") {
    val out = Corpus.interleave(spark, TestSpark.sf).collect()
    val n = out.length
    assert(out.map(_.getAs[Long]("pos")).toSet == (0L until n).toSet)
    val byPos = out.sortBy(_.getAs[Long]("pos"))
    val ranks = byPos.map(_.getAs[Int]("rk"))
    assert(ranks.sameElements(ranks.sorted),
      "interleave must emit all rank-r docs before any rank-(r+1) doc")
  }
}
