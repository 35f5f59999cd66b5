package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line on stdout, plus the same JSON at target/bench.json
  * (belt-and-braces for log-frame-mangled stdout). Per-query numbers are
  * the MIN across two pass-separated full-roster [[Run.sweep]]s
  * ("timing":"min_of_2_passes"), each run a full materialization, so
  * neither single-run load noise nor a sustained load window spanning
  * adjacent runs can masquerade as a regression.
  *
  * Failures are LOUD: a query that throws is recorded as -1 sec and listed
  * in the "failed" array, so a regression can never masquerade as a
  * speedup. A pass-2-only failure keeps the pass-1 timing; it is the
  * signature of a non-idempotent query (state the release between runs
  * does not cover) and is reported on stderr.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    // Untimed warm-up, so the timed sweep measures steady-state query
    // cost: session startup, the layout_* lakes' first build (one-time
    // fixture construction), the streaming engine and RocksDB state-store
    // classes, and first-JIT of the heaviest plan families (typed
    // Aggregator / ObjectHashAggregate, window/grid) would otherwise land
    // on the head of the sorted roster. One representative per path warms
    // the classes for the whole catalog; BENCH_NOTES.md has the numbers.
    val warmup = SparkEntry.queries.keys.filter(_.startsWith("layout_")).toSeq.sorted ++
      Seq("ev_stream_tumbling", "rec_item_cooccur", "rec_user_topn", "rec_eval_mrr",
        "rec_coverage", "dd_embed_neardup_ann", "dd_er_score", "rel_rfm",
        "agg_heavy_hitters", "agg_gini_wealth", "agg_listagg", "ev_interarrival")
    Run.sweep(spark, sfDir, Run.entry +: Run.named(warmup))
    val results = Run.sweep(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1), passes = 2)
      .map(o => (o.name, o.best.getOrElse(-1.0)))
    val failed = results.collect { case (n, t) if t < 0 => n }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Failed queries are excluded from the total (they'd otherwise subtract).
    val total = results.collect { case (_, t) if t >= 0 => t }.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","timing":"min_of_2_passes",""" +
        s""""queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // The driver archives only the TAIL of stdout, which truncates the
    // per-query line above on large catalogs — emit a second, SHORT
    // summary line LAST so the total/failure count always survives. The
    // distinct metric name keeps metric-keyed consumers from picking the
    // wrong schema or double-counting the two "total" lines.
    println(
      s"""{"metric":"total_summary","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""sf":"$sfDir"}""")
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"bench.json write failed: $e") }
    // Also persist the full per-query map as a repo-tracked PER-ROUND
    // artifact: BENCH_rN.json archives only a truncated stdout tail, and
    // target/ is overwritten every run. Round number = max(BENCH_r*.json)
    // + 1 — this run's map is the artifact of the round currently being
    // built.
    try {
      val rx = "BENCH_r(\\d+)\\.json".r
      val n = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        .foldLeft(0)(math.max) + 1
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"BENCH_detail_r$n%02d.json"),
        line.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"BENCH_detail write failed: $e") }
    spark.stop()
  }
}
