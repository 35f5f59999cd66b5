package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behaviour of the public pipeline API: config knobs move the output the
  * expected way, stages fuse lazily, and the rollups hold their invariants
  * on the fixtures. The default runs of CorpusPipeline, DedupPipeline and
  * RetrievalPipeline are registered queries, so the oracle checks those. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("config knobs change the output in the expected direction") {
    val strict = new CorpusPipeline(CorpusConfig(minTokens = 20))
      .run(spark, TestSpark.sf)
      .agg(sum("n_docs")).head.getLong(0)
    val loose = new CorpusPipeline(CorpusConfig(minTokens = 1))
      .run(spark, TestSpark.sf)
      .agg(sum("n_docs")).head.getLong(0)
    assert(strict < loose, "a stricter quality gate must keep fewer docs")
    val noDedup = new CorpusPipeline(CorpusConfig(dedupExact = false))
      .run(spark, TestSpark.sf)
      .agg(sum("n_docs")).head.getLong(0)
    val withDedup = new CorpusPipeline().run(spark, TestSpark.sf)
      .agg(sum("n_docs")).head.getLong(0)
    assert(noDedup >= withDedup, "dedup can only remove docs")
  }

  test("stages fuse lazily: the whole chain is one job, no intermediate " +
    "materialization (scan count via plan)") {
    val plan = new CorpusPipeline().run(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // the chain reads documents for the corpus and for the shingle table —
    // but never writes/caches in between, and the corpus side joins the
    // benchmark set by broadcast
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark shingles must broadcast:\n$plan")
  }

  test("DedupPipeline representatives absorb every member") {
    val reps = new DedupPipeline()
      .representatives(new DedupPipeline().clusters(
        new DedupPipeline().edges(spark, TestSpark.sf))).collect()
    assert(reps.nonEmpty)
    reps.foreach { r =>
      val members = r.getAs[String]("members").split(",").map(_.toLong)
      assert(members.length == r.getAs[Long]("n_members"))
      assert(members.min == r.getAs[Long]("keep_doc_id"),
        "representative must be the min member id")
    }
  }

  test("DedupPipeline threshold knob: a stricter threshold never yields " +
    "more clustered docs") {
    val loose = new DedupPipeline(DedupConfig(threshold = 0.3))
      .run(spark, TestSpark.sf).count()
    val strict = new DedupPipeline(DedupConfig(threshold = 0.9))
      .run(spark, TestSpark.sf).count()
    assert(strict <= loose)
  }

  test("RetrievalPipeline default config IS the sim_ivf_pq_topk gate; " +
    "wider nprobe never shrinks any query's candidate reach") {
    import org.apache.spark.sql.functions._
    // The registered query delegates to the API, so equality is by
    // construction — assert it anyway to pin the delegation.
    val viaQuery = graft.SparkEntry.queries("sim_ivf_pq_topk")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def run(cfg: RetrievalConfig) = {
      val e = graft.Tables.embeddings(spark, TestSpark.sf).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      val cells = e.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cell"), col("emb").as("cent"))
      val q = e.filter(col("vec_id").between(10, 14))
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      new RetrievalPipeline(cfg)
        .searchTopK(e, cells, col("vec_id").between(4, 7), q)
    }
    val viaApi = run(RetrievalConfig())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaApi == viaQuery)
    // nprobe=4 scans every cell: per-query top scores dominate nprobe=2's.
    val s2 = run(RetrievalConfig(nprobe = 2, topK = 1))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val s4 = run(RetrievalConfig(nprobe = 4, topK = 1))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    s2.foreach { case (qid, sc2) => assert(s4(qid) >= sc2, s"query $qid") }
  }

  test("AuditPipeline.summary rolls up one verdict per audit") {
    val sm = AuditPipeline.summary(spark, TestSpark.sf).collect()
    assert(sm.map(_.getString(0)).toSeq ==
      Seq("chi_square", "pii_scan", "psi_drift", "referential_integrity"))
    // fixture FKs are clean → that audit must pass; PII detectors fire on
    // the synthesized note column → that audit must flag findings
    val byName = sm.map(r => r.getString(0) -> r).toMap
    assert(byName("referential_integrity").getInt(3) == 1)
    assert(byName("pii_scan").getLong(1) > 0)
  }

  test("MaintenancePipeline.summary passes; vacuum conserves files") {
    val sm = MaintenancePipeline.summary(spark, TestSpark.sf).collect()
    assert(sm.map(_.getString(0)).toSeq ==
      Seq("cdc_merge", "compaction", "time_travel"))
    // every maintenance invariant must hold on the fixture: compaction
    // preserves rows+checksums, time travel shrinks live files at v1
    sm.foreach(r => assert(r.getInt(4) == 1,
      s"${r.getString(0)} maintenance invariant failed"))
    val vc = graft.sources.Lakehouse.vacuum(spark, TestSpark.sf).collect().head
    assert(vc.getLong(2) == vc.getLong(0) - vc.getLong(1),
      "vacuum conservation: files after = files before - files vacuumed")
  }
}
