package graft.ops

import graft.{OracleSafe, Query, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation suite (SURVEY.md §2.5).
  *
  * All forms are `groupBy.agg` over built-ins: Catalyst plans a partial
  * (map-side combine) + final hash aggregate, so shuffle volume is
  * |groups| × partitions regardless of input size — the 100-TB-safe shape.
  * `approx_*` sketches (HLL, KLL-style quantiles) are mergeable, so they
  * scale identically; they're registered rows-only (sketch internals differ
  * from DuckDB's, so no hash oracle — accuracy is property-tested). */
object Aggs extends QueryModule {
  import OracleSafe._

  /** Classic multi-aggregate stats per group. min/max pass doubles through
    * untouched (no arithmetic → bit-identical), sums/avgs use exact decimal. */
  def stats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        dsum(col("o_totalprice")).as("sum_price"),
        davg(col("o_totalprice")).as("avg_price"))
      .orderBy(col("o_orderpriority"))

  /** ROLLUP with explicit NULLS FIRST ordering (Spark's ASC default) so the
    * super-aggregate rows land deterministically on both engines. */
  def rollupStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  def cubeFlags(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
               col("l_linestatus").asc_nulls_first)

  /** GROUPING SETS + grouping() flags (disambiguates real NULL keys from
    * super-aggregate NULLs). */
  def groupingSets(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).as("g_status"),
        grouping(col("o_orderpriority")).as("g_priority"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  /** Filtered aggregation: FILTER (WHERE ...) twin via sum(CASE WHEN). */
  def filteredAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(when(col("l_discount") > 0.05, col("l_quantity"))).as("qty_high_disc"),
        count(when(col("l_discount") > 0.05, lit(1))).as("n_high_disc"),
        count(lit(1)).as("n_all"))
      .orderBy(col("l_returnflag"))

  /** Order-insensitive collect: sort_array(collect_list) → joined string
    * (raw collect_list order is partition-dependent — never emit it). */
  def collectSorted(s: SparkSession, d: String): DataFrame =
    // Scale posture: AggScan flags the per-status INPUT as corpus-growing,
    // but collect_set's partial state dedups map-side to the ≤5-value
    // priority alphabet — the buffered group is alphabet-bounded, not
    // corpus-bounded; unbounded-payload collects belong to agg_topk_heap.
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
        .as("priorities"))
      .orderBy(col("o_orderstatus"))

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`: both compute a + (b-a)*frac on doubles). */
  def quantiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90"),
        percentile(col("o_totalprice"), lit(0.99)).as("p99"))
      .orderBy(col("o_orderstatus"))

  /** Histogram via value bucketing (the scalable histogram: one groupBy,
    * no sort, carries to 100 TB unchanged). */
  def histogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(floor(col("value") / 20.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Approx quantiles via the GK/KLL-style mergeable sketch
    * (`percentile_approx`) — the 100-TB quantile path: bounded-memory
    * partial sketches merged at the final agg, vs the exact `percentile`
    * above which collects per-group values. Rows-only gate (sketch
    * internals differ across engines); accuracy vs the exact percentiles
    * asserted in LlmSpec. */
  def approxQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("ap50"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(10000)).as("ap90"))
      .orderBy(col("o_orderstatus"))

  /** HLL approx distinct — rows-only gate (sketches differ across engines);
    * accuracy asserted in AggsSpec against exact counts. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
      .orderBy(col("l_returnflag"))

  /** Mergeable HLL sketch COLUMNS (Datasketches, Spark 4 built-ins) — the
    * incremental-distinct pattern a 100 TB pipeline actually runs: build
    * one sketch per (priority, month) partition slice (`hll_sketch_agg`),
    * store it as bytes, and later UNION the slices (`hll_union_agg`) to
    * answer priority-level distinct counts WITHOUT rescanning the raw
    * data — a daily job merges yesterday's sketch with today's in O(|
    * sketch|). Emits the merged estimate next to the exact count.
    * Rows-only gate (sketch bytes are not SQL-oracle-expressible); the
    * merge-losslessness property (union-of-slices estimate ≡ one-pass
    * estimate) and accuracy are asserted in SketchSpec. */
  def hllUnion(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        trunc(col("o_orderdate"), "month").as("mon"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    val merged = monthly.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("approx_customers"))
    val exact = Tables.orders(s, d).groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    merged.join(exact, Seq("o_orderpriority"))
      .orderBy(col("o_orderpriority"))
  }

  /** Misra-Gries heavy hitters per language over document tokens — the
    * bounded-memory frequent-items path (vs the exact explode+groupBy of
    * `text_word_freq`, whose shuffle is |vocab|-sized): k=32 counters per
    * group, mergeable partial+final. Rows-only gate (estimates are
    * merge-order-dependent); the frequency guarantees are property-tested
    * in Round3Spec. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new graft.functions.HeavyHitters(32),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
    Tables.documents(s, d)
      .select(col("lang"),
        explode(Corpus.tokens(col("text"))).as("token"))
      // exact codegen'd pre-count, then weighted sketch updates — identical
      // guarantees (a weighted update IS the MG merge rule), |vocab| UDAF
      // calls instead of |tokens| (same shape as cmsTokens below)
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(mg(col("token"), col("c")).as("hh"))
      .select(col("lang"), posexplode(col("hh")).as(Seq("pos", "e")))
      .select(col("lang"), col("pos"), col("e._1").as("token"),
        col("e._2").as("est"))
      .orderBy(col("lang"), col("pos"))
  }

  /** Count-min point queries per language: fixed-memory frequency estimates
    * for a probe vocabulary (stopwords + corpus terms + one absent control).
    * Rows-only by design — the estimates are sketch-specific, not SQL —
    * with the ≥true / ≤true+εN guarantees and partition-independence
    * pinned in SketchSpec. */
  def cmsTokens(s: SparkSession, d: String): DataFrame = {
    val probes = Seq("the", "data", "spark", "query", "table", "zzz_absent")
    val cms = udaf(new graft.functions.CountMin(4, 256, probes),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong))
    Tables.documents(s, d)
      .select(col("lang"),
        explode(Corpus.tokens(col("text"))).as("token"))
      // exact codegen'd pre-count, then weighted sketch updates: identical
      // counters (additivity), |vocab| UDAF calls instead of |tokens|
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(cms(col("token"), col("c")).as("sketch"))
      .select(col("lang"), posexplode(col("sketch")).as(Seq("pos", "e")))
      .select(col("lang"), col("pos"), col("e._1").as("token"),
        col("e._2").as("est"))
      .orderBy(col("lang"), col("pos"))
  }

  /** Winsorization bounds + tail accounting per event type: exact p05/p95
    * (percentile ≡ quantile_cont, the proven parity pair), counts clipped
    * on each side, and the exact-decimal sum of the in-range values. The
    * bounds table is |types| rows and broadcasts back over the facts —
    * same two-pass shape as ev_anomaly, no fact-side shuffle in pass 2.
    * (Interpolated percentiles are NOT decimal-summable — only original
    * 2-dp values enter the sum, so cross-engine hash parity holds.) */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val bounds = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.05)).as("p05"),
        percentile(col("value"), lit(0.95)).as("p95"))
    Tables.events(s, d)
      .join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("p05")).as("p05"), min(col("p95")).as("p95"),
        count(when(col("value") < col("p05"), lit(1))).as("n_low"),
        count(when(col("value") > col("p95"), lit(1))).as("n_high"),
        graft.OracleSafe.dsum(
          when(col("value") >= col("p05") && col("value") <= col("p95"),
            col("value"))).as("sum_kept"))
      .orderBy(col("event_type"))
  }

  /** Typed-Aggregator UDAF: per customer, the orderkey of the priciest
    * order (deterministic tie-break in the aggregator itself). */
  def argMaxOrder(s: SparkSession, d: String): DataFrame = {
    val am = udaf(graft.functions.ArgMaxLong,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(am(col("o_orderkey"), col("o_totalprice")).as("best_order"))
      .orderBy(col("o_custkey"))
  }

  /** Exact DISCRETE percentiles per group (ANSI `percentile_disc`: the
    * smallest group element whose cume_dist ≥ p — an actual data value,
    * never interpolated, so the emitted double is a raw passthrough and
    * bit-exact across engines with no decimal routing). cume_dist ≥ p is
    * exactly the k-th order statistic at k = ⌈p·n⌉, so this runs the
    * [[median2Pass]] bucket-then-order-statistic plan with three ks per
    * group instead of a cume_dist window over the raw rows — the previous
    * form sorted corpus/|priorities| rows in ONE task per group (the
    * round-15 GroupScan straggler class); here the largest sort anywhere
    * is one value bucket. Oracle: the original cume_dist window form, so
    * the gate proves the order-statistic reduction. */
  def percentileDisc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("v"), col("o_orderkey").as("id"))
      .withColumn("bucket", floor(col("v") / 1000.0).cast("long"))
    val counts = o.groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val cum = counts.withColumn("cum",
      sum(col("bn")).over(Window.partitionBy(col("grp")).orderBy(col("bucket"))))
    val ks = counts.groupBy(col("grp")).agg(sum(col("bn")).as("n"))
      .select(col("grp"), col("n"), explode(array(
        struct(lit(25).as("p"), expr("(n + 3) div 4").as("k")),
        struct(lit(50).as("p"), expr("(n + 1) div 2").as("k")),
        struct(lit(90).as("p"), expr("(9 * n + 9) div 10").as("k")))).as("pk"))
      .select(col("grp"), col("n"), col("pk.p").as("p"), col("pk.k").as("k"))
    val tgt = ks.join(cum, Seq("grp"))
      .filter(col("cum") >= col("k") && col("cum") - col("bn") < col("k"))
      .select(col("grp"), col("p"), col("bucket"),
        (col("k") - (col("cum") - col("bn"))).as("off"))
    val wIn = Window.partitionBy(col("grp"), col("bucket"))
      .orderBy(col("v"), col("id"))
    val stats = o
      .join(tgt.select(col("grp"), col("bucket")).distinct(), Seq("grp", "bucket"))
      .withColumn("rn", row_number().over(wIn))
      .join(tgt, Seq("grp", "bucket"))
      .filter(col("rn") === col("off"))
      .groupBy(col("grp"))
      .agg(
        min(when(col("p") === 25, col("v"))).as("p25_disc"),
        min(when(col("p") === 50, col("v"))).as("p50_disc"),
        min(when(col("p") === 90, col("v"))).as("p90_disc"))
    ks.select(col("grp"), col("n")).distinct()
      .join(stats, Seq("grp"))
      .select(col("grp").as("o_orderpriority"), col("p25_disc"),
        col("p50_disc"), col("p90_disc"), col("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bounded-state heap top-k per group via [[graft.functions.TopK3]] —
    * identical results to the `row_number() <= 3` window form
    * (`win_topk_per_group` — same oracle SQL), but the window shuffles
    * EVERY order row to its customer's partition and sorts, while this
    * aggregate's partial phase keeps at most k=3 rows per key per map
    * task: shuffle volume k·|keys| instead of |rows|, and a hot key can
    * never skew a sort partition. This is the top-k form that carries to
    * 100 TB; plan-asserted window-free in Round8Spec. */
  def topKHeap(s: SparkSession, d: String): DataFrame = {
    val tk = udaf(graft.functions.TopK3,
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.TopKEntry]())
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(tk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rk"),
        col("e.id").as("o_orderkey"), col("e.value").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Pivot: status × priority count matrix (explicit pivot values — at
    * scale never let pivot scan for distinct values). */
  def pivotStatusPriority(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map(
        "1-URGENT" -> "p1", "2-HIGH" -> "p2", "3-MEDIUM" -> "p3",
        "4-NOT SPECIFIED" -> "p4", "5-LOW" -> "p5"))
      .orderBy(col("o_orderstatus"))

  /** UNPIVOT / melt — the reshape twin of pivot: wide numeric columns →
    * (metric, value) long form via `Dataset.unpivot` (Spark's native melt;
    * map-only, no shuffle, scale-free). Oracle is the portable UNION ALL
    * expansion. */
  def unpivotPartMetrics(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 500)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("size"),
        col("p_retailprice").cast("double").as("retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("size"), col("retailprice")), "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))

  /** Variance/stddev with exact-decimal moments: Σx and Σx² are exact
    * decimal sums (add-order-free), converted via string to bit-identical
    * doubles; the final variance arithmetic and sqrt are then IEEE-exact
    * on both engines — the portable form of a float-unstable aggregate. */
  def varianceStats(s: SparkSession, d: String): DataFrame = {
    val sx  = d2d(sum(col("o_totalprice").cast("decimal(18,4)")))
    val sx2 = d2d(sum(col("o_totalprice").cast("decimal(12,4)")
        * col("o_totalprice").cast("decimal(12,4)")))
    val nn = count(lit(1))
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(nn.as("n"), sx.as("sum_x"), sx2.as("sum_x2"))
      .select(col("o_orderstatus"), col("n"),
        (col("sum_x") / col("n")).as("mean"),
        ((col("sum_x2") - col("sum_x") * col("sum_x") / col("n"))
          / (col("n") - 1)).as("variance"),
        sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n"))
          / (col("n") - 1)).as("stddev"))
      .orderBy(col("o_orderstatus"))
  }

  /** Covariance / Pearson correlation per group, in the same portable form
    * as `agg_variance`: all five moments (Σx, Σy, Σxy, Σx², Σy²) are exact
    * decimal sums — add-order-free, so partition count never changes the
    * answer — and the final cov/corr arithmetic is IEEE (+,−,×,÷,sqrt) on
    * bit-agreed doubles. Product precisions stay ≤ 38 ((8,4)×(12,4)).
    * One partial+final aggregate; nothing beyond the groupBy shuffles. */
  def corrCov(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    val sx  = d2d(sum(x.cast("decimal(18,4)")))
    val sy  = d2d(sum(y.cast("decimal(18,4)")))
    val sxy = d2d(sum(x.cast("decimal(8,4)") * y.cast("decimal(12,4)")))
    val sx2 = d2d(sum(x.cast("decimal(8,4)") * x.cast("decimal(8,4)")))
    val sy2 = d2d(sum(y.cast("decimal(12,4)") * y.cast("decimal(12,4)")))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sx.as("sum_x"), sy.as("sum_y"),
        sxy.as("sum_xy"), sx2.as("sum_x2"), sy2.as("sum_y2"))
      .select(col("l_returnflag"), col("n"),
        ((col("sum_xy") - col("sum_x") * col("sum_y") / col("n"))
          / (col("n") - 1)).as("cov_samp"),
        ((col("sum_xy") - col("sum_x") * col("sum_y") / col("n"))
          / sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n"))
            * (col("sum_y2") - col("sum_y") * col("sum_y") / col("n"))))
          .as("corr"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group OLS regression (slope / intercept / R²) of price on
    * quantity — the trend-line aggregate (`regr_slope` family) computed
    * from the SAME five exact-decimal moments as [[corrCov]], so the
    * result is add-order-free and bit-portable where Spark's float
    * `regr_*` builtins are partitioning-dependent. Final arithmetic is
    * IEEE (+,−,×,÷) on bit-agreed doubles; one partial+final aggregate. */
  def regression(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    val sx  = d2d(sum(x.cast("decimal(18,4)")))
    val sy  = d2d(sum(y.cast("decimal(18,4)")))
    val sxy = d2d(sum(x.cast("decimal(8,4)") * y.cast("decimal(12,4)")))
    val sx2 = d2d(sum(x.cast("decimal(8,4)") * x.cast("decimal(8,4)")))
    val sy2 = d2d(sum(y.cast("decimal(12,4)") * y.cast("decimal(12,4)")))
    val n = col("n").cast("double")
    val vx = col("sum_x2") - col("sum_x") * col("sum_x") / n
    val vy = col("sum_y2") - col("sum_y") * col("sum_y") / n
    val cxy = col("sum_xy") - col("sum_x") * col("sum_y") / n
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sx.as("sum_x"), sy.as("sum_y"),
        sxy.as("sum_xy"), sx2.as("sum_x2"), sy2.as("sum_y2"))
      .select(col("l_returnflag"), col("n"),
        (cxy / vx).as("slope"),
        ((col("sum_y") - (cxy / vx) * col("sum_x")) / n).as("intercept"),
        ((cxy * cxy) / (vx * vy)).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Weighted median (price weighted by quantity) per group — the
    * "typical price of a shipped unit" statistic a plain median gets
    * wrong. Definition: smallest price whose cumulative weight reaches
    * half the group total (2·cum ≥ tot in EXACT DECIMAL — add-order-free
    * sums, no float halving). Bucket-localized like [[median2Pass]]: the
    * per-(flag, price) weight grid aggregates once, a cumulative window
    * over the ≤|price-buckets| rows per flag finds each flag's target
    * bucket, and only that bucket's distinct prices see an ordered
    * window — the previous RANGE-frame form ran the running weight over
    * corpus/|flags| raw rows in ONE task per flag (the round-15 GroupScan
    * straggler class). Peers share one grid row, so RANGE-frame peer
    * semantics are preserved exactly. Oracle: the original row-level
    * RANGE-frame window, so the gate proves the grid reduction. */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Two-level pre-aggregation (round-14 verdict item 5, guide §2.3
    // "aggregate before you shuffle"): pass 1 shuffles only the
    // (flag, BUCKET) weight grid — |flags| × ~price-range/10⁴ rows after
    // map-side partial aggregation — to locate each flag's target bucket;
    // pass 2 re-scans lineitem and builds the exact (flag, price) grid
    // ONLY inside the broadcast target buckets, so the distinct-price
    // exchange shrinks from every price in the corpus (~85k rows / 4.8 MB
    // at sf0.1, the dominant term of the previous one-scan form) to one
    // bucket's prices per flag (~1.5k rows). Decimal sums are exact and
    // associative, so bucket weights, `base`, and `tot` are bit-identical
    // to the previous per-price-then-per-bucket fold; peers still share
    // one grid row, preserving the RANGE-frame peer semantics the oracle
    // checks. Costs one extra lineitem scan (cheap, column-pruned);
    // removes the corpus-wide grid exchange — the right trade at any
    // scale where distinct prices grow with the data.
    val base = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("decimal(18,4)").as("q"))
      .withColumn("bucket",
        floor(col("l_extendedprice") / 10000.0).cast("long"))
    val bk = base.groupBy(col("l_returnflag"), col("bucket"))
      .agg(sum(col("q")).as("bw"))
    val cumB = bk.withColumn("cum", sum(col("bw")).over(
      Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))))
    val tot = bk.groupBy(col("l_returnflag")).agg(sum(col("bw")).as("tot"))
    // First bucket where the running weight crosses half the total; the
    // answer price lives in it by construction.
    val tgt = cumB.join(broadcast(tot), Seq("l_returnflag"))
      .filter(col("cum") * 2 >= col("tot") &&
        (col("cum") - col("bw")) * 2 < col("tot"))
      .select(col("l_returnflag"), col("bucket"),
        (col("cum") - col("bw")).as("base"), col("tot"))
    val wIn = Window.partitionBy(col("l_returnflag"), col("bucket"))
      .orderBy(col("l_extendedprice"))
    // base/tot are constant per (flag, bucket), so carrying them through
    // the grouping keys keeps pass 2 at a single broadcast join.
    base.join(broadcast(tgt), Seq("l_returnflag", "bucket"))
      .groupBy(col("l_returnflag"), col("bucket"), col("l_extendedprice"),
        col("base"), col("tot"))
      .agg(sum(col("q")).as("pq"))
      .withColumn("cum", col("base") + sum(col("pq")).over(wIn))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("wmedian"),
        d2d(max(col("tot"))).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** Boolean/selector aggregates: bool_and / bool_or / count_if and
    * max_by / min_by (argmax as built-ins, complementing the typed
    * Aggregator form in agg_argmax_udaf). The by-value is made unique
    * (price·2³² + key — both engines compute the identical IEEE double)
    * so argmax ties can never make the result nondeterministic. NB the
    * packed-double trick is fixture-scale-bounded: it needs orderkey <
    * 2³² and the product within double's 53-bit mantissa (full-scale
    * TPC-H keys at SF100+ exceed both) — at that scale build the
    * tie-break as a struct (price, key) max instead. */
  def booleanAggs(s: SparkSession, d: String): DataFrame = {
    val v = col("o_totalprice") * lit(4294967296.0) + col("o_orderkey")
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        bool_and(col("o_totalprice") > 1000).cast("int").as("all_over_1k"),
        bool_or(col("o_totalprice") > 400000).cast("int").as("any_over_400k"),
        count_if(col("o_totalprice") > 100000).as("n_over_100k"),
        max_by(col("o_orderkey"), v).as("key_of_max"),
        min_by(col("o_orderkey"), v).as("key_of_min"))
      .orderBy(col("o_orderstatus"))
  }

  /** Mode (most frequent value) per group with a deterministic tie-break
    * (count desc, then value asc): count per (group, value) → rank-1 window
    * over the tiny distinct-pair table. Two partial+final aggregates; the
    * window runs over |groups|×|values| rows, never the fact table — the
    * standard scale-safe mode shape (there is no single-pass exact mode). */
  def mode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.orders(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n").as("mode_n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Skewness / excess kurtosis from exact-decimal raw power sums — the
    * portable form of Spark's float-unstable `skewness`/`kurtosis`
    * built-ins (same pattern as [[variance]]/[[corrCov]]). S1..S4 are exact
    * DECIMALs (quantity ≤ 50 at 2 dp: (8,2)⁴ = (35,8) stays under p=38 in
    * both engines, so no rounding anywhere before the finalize); the
    * finalize uses only +,-,×,÷,sqrt — each correctly rounded IEEE, so the
    * result is bit-identical across engines as long as the expression tree
    * is parenthesized identically (it is — see the oracle twin). One
    * partial+final aggregate; the moment sums merge associatively, so the
    * 100-TB plan is the same two-stage hash agg. */
  def skewKurtosis(s: SparkSession, d: String): DataFrame = {
    def dq = col("l_quantity").cast("decimal(8,2)")
    val agg = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        d2d(sum(dq)).as("s1"),
        d2d(sum(dq * dq)).as("s2"),
        d2d(sum(dq * dq * dq)).as("s3"),
        d2d(sum(dq * dq * dq * dq)).as("s4"))
    val n = col("n"); val mean = col("s1") / n
    val m = agg.select(col("l_returnflag"), n, mean.as("mean"),
      ((col("s2") / n) - (mean * mean)).as("m2"),
      (((col("s3") / n) - ((lit(3.0) * mean) * (col("s2") / n)))
        + ((lit(2.0) * mean) * (mean * mean))).as("m3"),
      ((((col("s4") / n) - ((lit(4.0) * mean) * (col("s3") / n)))
        + ((lit(6.0) * (mean * mean)) * (col("s2") / n)))
        - ((lit(3.0) * mean) * (mean * (mean * mean)))).as("m4"))
    m.select(col("l_returnflag"), col("n").cast("long").as("n"), col("mean"),
      (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
      ((col("m4") / (col("m2") * col("m2"))) - lit(3.0)).as("excess_kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  /** Equi-depth (equal-frequency) histogram — the complement of the
    * equi-width [[histogram]]. Bin BOUNDARIES are exact interpolated
    * percentiles (quantile_cont semantics: h = p·(n−1), linear between
    * the two neighboring order statistics), but they are located with
    * the [[median2Pass]] two-pass bucket plan instead of the buffering
    * `percentile` aggregate whose single group holds EVERY value: pass 1
    * counts a coarse value-bucket histogram (one tiny table), a prefix
    * sum over it localizes all 14 needed order statistics (k and k+1
    * for each of the 7 boundaries) to their buckets, and pass 2
    * re-scans only the target buckets with a (vb)-partitioned
    * row_number — max sort state is ONE value bucket, the knob that
    * makes this the 100-TB exact form. The interpolation
    * v_lo + (r/8)·(v_hi − v_lo) runs the identical IEEE expression in
    * the oracle, which derives its order statistics the OTHER way (one
    * full-sort row_number) — so the gate proves the localization. Rows
    * are then assigned map-side against the broadcast 7-value boundary
    * array exactly as before; [[equidepthSketch]] remains the
    * sketch-based alternative when approximate boundaries suffice. */
  def equidepthHistogram(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("p"))
      .withColumn("vb", floor(col("p") / 1000.0).cast("long"))
    val counts = li.groupBy(col("vb")).agg(count(lit(1)).as("bn"))
    val cum = counts
      .withColumn("cum", sum(col("bn")).over(Window.orderBy(col("vb"))))
      .withColumn("cb", col("cum") - col("bn"))
    val ks = counts.agg(sum(col("bn")).as("n"))
      .select(col("n"), explode(array((1 to 7).map(i =>
        struct(lit(i).as("bi"),
          expr(s"(n - 1) * $i div 8 + 1").as("k1"),
          expr(s"(n - 1) * $i % 8").as("r"))): _*)).as("bk"))
      .select(col("bk.bi").as("bi"), col("bk.r").as("r"),
        explode(array(col("bk.k1"),
          col("bk.k1") + when(col("bk.r") > 0, 1L).otherwise(0L))).as("k"))
    val tgt = ks.crossJoin(broadcast(cum))
      .filter(col("cum") >= col("k") && col("cb") < col("k"))
      .select(col("bi"), col("r"), col("vb"),
        (col("k") - col("cb")).as("off"))
    val wIn = Window.partitionBy(col("vb")).orderBy(col("p"))
    val stats = li
      .join(broadcast(tgt.select(col("vb")).distinct()), Seq("vb"))
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(tgt), Seq("vb"))
      .filter(col("rn") === col("off"))
      .groupBy(col("bi"), col("r"))
      .agg(min(col("p")).as("lo_v"), max(col("p")).as("hi_v"))
    val bounds = stats
      .select(col("bi"), (col("lo_v") +
        col("r").cast("double") / lit(8.0) * (col("hi_v") - col("lo_v")))
        .as("bval"))
      .agg(transform(array_sort(collect_list(struct(col("bi"), col("bval")))),
        x => x.getField("bval")).as("bs"))
    val bucket = (1 to 7).map(i =>
      when(col("p") > element_at(col("bs"), i), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    li.crossJoin(broadcast(bounds))
      .select(bucket.as("bucket"), col("p"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("p")).as("lo"), max(col("p")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** The 100 TB form of [[equidepthHistogram]]: identical downstream
    * shape (broadcast boundary array, map-side bucket assignment, one
    * groupBy), but boundaries come from the mergeable `percentile_approx`
    * KLL/GK-style sketch instead of the exact `percentile` whose buffer
    * holds every value of the single group. This is the RECOMMENDED
    * production path; the exact twin exists because the oracle demands
    * bit-determinism. Rows-only gate (sketch internals differ across
    * engines); Round9Spec asserts every bucket holds n/8 within a 5%
    * relative band at the 10k accuracy setting. */
  def equidepthSketch(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("p"))
    val bounds = li.agg(percentile_approx(col("p"),
      array((1 to 7).map(i => lit(i / 8.0)): _*), lit(10000)).as("bs"))
    val bucket = (1 to 7).map(i =>
      when(col("p") > element_at(col("bs"), i), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    li.crossJoin(broadcast(bounds))
      .select(bucket.as("bucket"), col("p"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("p")).as("lo"), max(col("p")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Chi-square test of independence between two categoricals (event type
    * × day-of-week) — the "is traffic mix stable across the week" screen
    * behind drift alerts and A/B sanity checks. Everything upstream of the
    * statistic is integer-exact (cell counts, row/col marginals, N);
    * expected = rt·ct/N and each cell's (O−E)²/E are then IEEE ops on
    * identical operands, bit-equal across engines; the χ² total folds the
    * per-cell terms in ascending VALUE order (scalar doubles, not structs
    * — the DuckDB grouped-struct-fold hazard doesn't apply), so the double
    * adds are order-pinned. Scale: two partial+final aggregates over a
    * ≤|types|×7 grid plus a broadcast of the 1-row totals — the fact table
    * is scanned once, nothing driver-side. */
  def chiSquare(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy(col("event_type"))
      .agg(sum(col("observed")).as("rt"))
    val colTot = cells.groupBy(col("dow"))
      .agg(sum(col("observed")).as("ct"))
    val tot = cells.agg(sum(col("observed")).as("n_total"),
      countDistinct(col("event_type")).as("n_types"),
      countDistinct(col("dow")).as("n_dows"))
    val diff = col("observed").cast("double") - col("expected")
    val terms = cells
      .join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("dow"))
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        (col("rt") * col("ct")).cast("double") / col("n_total").cast("double"))
      .withColumn("contrib", diff * diff / col("expected"))
    val chi2 = terms.agg(aggregate(array_sort(collect_list(col("contrib"))),
      lit(0.0), (a, x) => a + x).as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("event_type"), col("dow").cast("int").as("dow"),
        col("observed"), col("expected"), col("contrib"), col("chi2"),
        ((col("n_types") - 1) * (col("n_dows") - 1)).cast("long").as("dof"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** One-way ANOVA F-test: does mean revenue differ across return-flag
    * groups? Everything that crosses partitions is exact — group sizes
    * are BIGINT and Σy / Σy² pass through DECIMAL → string → double (the
    * OracleSafe route, order-free) — and the between/within sums of
    * squares are then ONE shared float expression tree over those frozen
    * scalars, with the per-group Σy²/n terms folded in ascending value
    * order (the chi-square fold pin), so F and η² are bit-identical
    * across engines. Scale: one corpus scan feeding two partial+final
    * aggregates; the statistic itself runs on a ≤|groups|-row table. */
  def anovaF(s: SparkSession, d: String): DataFrame = {
    // Money → exact integer cents (2-dp source); F and η² are invariant
    // under unit scaling, so the whole statistic runs on cents. Squares go
    // through DECIMAL(18,0)² = (37,0) — inside both engines' 128-bit
    // decimal space with zero rounding (a (12,4)² product trips DuckDB's
    // narrower multiply width).
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("grp"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("y"))
    val g = li.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"),
        d2d(sum(col("y").cast("decimal(20,0)")).cast("decimal(38,0)")).as("sy"))
    val tot = li.agg(count(lit(1)).as("n"),
      d2d(sum(col("y").cast("decimal(20,0)")).cast("decimal(38,0)")).as("sy"),
      d2d(sum(col("y").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
        .cast("decimal(38,0)")).as("syy"))
    val sumT = g
      .select((col("sy") * col("sy") / col("n_g").cast("double")).as("t_g"))
      .agg(count(lit(1)).as("k"),
        aggregate(array_sort(collect_list(col("t_g"))), lit(0.0),
          (a, x) => a + x).as("sum_t"))
    sumT.crossJoin(broadcast(tot))
      .withColumn("ssb",
        col("sum_t") - col("sy") * col("sy") / col("n").cast("double"))
      .withColumn("ssw", col("syy") - col("sum_t"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        ((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double"))).as("f_stat"),
        (col("ssb") / (col("ssb") + col("ssw"))).as("eta_sq"))
  }

  /** Tukey-fence outlier report per supplier: Q1/Q3 as exact discrete
    * order statistics (the cume_dist pattern of [[percentileDisc]] —
    * real data values, engine-agnostic), fences evaluated as the PURE
    * INTEGER comparisons 2y < 5·Q1 − 3·Q3 / 2y > 5·Q3 − 3·Q1 on cents
    * (no 1.5·IQR float ever exists). Partitions are per-supplier (row
    * count per key is catalog-ratio-bounded, not corpus-bounded);
    * the top-20 noisiest suppliers emerge via a distributed TakeOrdered.
    */
  def tukeyOutliers(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("sk"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("y"))
    val w = Window.partitionBy(col("sk")).orderBy(col("y"))
    val qs = li.withColumn("cd", cume_dist().over(w))
      .groupBy(col("sk"))
      .agg(min(when(col("cd") >= 0.25, col("y"))).as("q1_c"),
        min(when(col("cd") >= 0.75, col("y"))).as("q3_c"),
        count(lit(1)).as("n"))
    li.join(qs, Seq("sk"))
      .select(col("sk"), col("n"), col("q1_c"), col("q3_c"),
        when(lit(2L) * col("y") < lit(5L) * col("q1_c") - lit(3L) * col("q3_c")
          || lit(2L) * col("y") > lit(5L) * col("q3_c") - lit(3L) * col("q1_c"),
          1L).otherwise(0L).as("flag"))
      .groupBy(col("sk"), col("n"), col("q1_c"), col("q3_c"))
      .agg(sum(col("flag")).as("n_outliers"))
      .orderBy(col("n_outliers").desc, col("sk").asc)
      .limit(20)
  }

  /** Herfindahl–Hirschman market-concentration index per nation: HHI =
    * Σ(supplier revenue share)² = Σrev² / (Σrev)² — the antitrust-class
    * readout. Per-supplier revenues are exact BIGINT cents; squares ride
    * DECIMAL(19,0)² → (38,0) → string → double, totals are double-exact
    * casts, and HHI is one division. Two hash aggs, one dim join —
    * UNHINTED: supplier grows with the corpus, so the planner
    * auto-broadcasts at fixture scale and AQE shuffles at 100×. */
  def hhi(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey"), col("s_suppkey"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("c"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(sum(col("c")).as("rev"))
    rev.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("rev")).as("tot_cents"),
        d2d(sum(col("rev").cast("decimal(19,0)") * col("rev"))
          .cast("decimal(38,0)")).as("sq"))
      .select(col("s_nationkey"), col("n_suppliers"), col("tot_cents"),
        (col("sq") / (col("tot_cents").cast("double") *
          col("tot_cents").cast("double"))).as("hhi"))
      .orderBy(col("s_nationkey"))
  }

  /** Exact distinct customers per priority via the mergeable BITMAP
    * aggregate ([[graft.functions.BitmapDistinctAggregator]]) — gated
    * against the same query's built-in `countDistinct`, so the oracle
    * pins the bitmap path to the exact answer. See the Aggregator's
    * Scaladoc for why this beats expand-based exact distinct AND
    * approximate HLL when ids are dense surrogate keys. */
  def bitmapDistinct(s: SparkSession, d: String): DataFrame = {
    val bm = udaf(new graft.functions.BitmapDistinctAggregator)
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(bm(col("o_custkey")).as("n_customers_bitmap"),
        countDistinct(col("o_custkey")).as("n_customers_exact"),
        max(col("o_custkey")).as("max_key"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** EXACT median without buffering the group — the two-pass
    * bucket-then-order-statistic plan that replaces the TypedImperative
    * whole-group buffer of [[quantiles]]/[[equidepthHistogram]] (the
    * documented 100-TB weakness of exact `percentile`): pass 1 counts a
    * coarse value-bucket histogram per group (one partial+final agg, a
    * tiny table); a cumulative window over the ≤|buckets| rows locates,
    * for each needed order statistic k ∈ {⌈n/2⌉, ⌈(n+1)/2⌉}, its target
    * bucket and in-bucket rank; pass 2 re-scans ONLY the target buckets
    * and takes a row_number within (group, bucket) — so the largest sort
    * state anywhere is ONE bucket's rows, a knob (bucket width) rather
    * than the dataset. The oracle is deliberately INDEPENDENT: a full
    * per-group sort with row_number, so the gate proves the localization
    * arithmetic, not just self-consistency. Median = (v_k1+v_k2)/2 on
    * identical doubles. */
  def median2Pass(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("v"), col("o_orderkey").as("id"))
      .withColumn("bucket", floor(col("v") / 1000.0).cast("long"))
    val counts = o.groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val cum = counts.withColumn("cum",
      sum(col("bn")).over(Window.partitionBy(col("grp")).orderBy(col("bucket"))))
    val ks = counts.groupBy(col("grp")).agg(sum(col("bn")).as("n"))
      .select(col("grp"), col("n"),
        explode(array(expr("(n + 1) div 2"), expr("(n + 2) div 2"))).as("k"))
      .distinct()
    val tgt = ks.join(cum, Seq("grp"))
      .filter(col("cum") >= col("k") && col("cum") - col("bn") < col("k"))
      .select(col("grp"), col("bucket"),
        (col("k") - (col("cum") - col("bn"))).as("off"))
    val wIn = Window.partitionBy(col("grp"), col("bucket"))
      .orderBy(col("v"), col("id"))
    val stats = o
      .join(tgt.select(col("grp"), col("bucket")).distinct(), Seq("grp", "bucket"))
      .withColumn("rn", row_number().over(wIn))
      .join(tgt, Seq("grp", "bucket"))
      .filter(col("rn") === col("off"))
      .groupBy(col("grp"))
      .agg(min(col("v")).as("lo_mid"), max(col("v")).as("hi_mid"))
    counts.groupBy(col("grp")).agg(sum(col("bn")).as("n"))
      .join(stats, Seq("grp"))
      .select(col("grp"), col("n"), col("lo_mid"), col("hi_mid"),
        ((col("lo_mid") + col("hi_mid")) / 2.0).as("median"))
      .orderBy(col("grp"))
  }

  /** Mann-Whitney U rank-sum test (the non-parametric two-sample test a
    * metrics platform runs when [[abTest]]'s proportion z doesn't apply):
    * URGENT vs LOW order values. Ranks never materialize per row — the
    * rank-sum algebra runs over the DISTINCT-VALUE count table
    * (R₁ = Σ n₁(v)·avgrank(v), avgrank from a cumulative window over the
    * value grid; doubled to stay integer-exact), with the standard tie
    * correction Σ(t³−t) from the same table. At extreme scale the value
    * grid's prefix sum is BUCKET-LOCALIZED (the [[median2Pass]] trick):
    * a broadcast per-bucket base offset plus a window partitioned on
    * (bucket), so no sort ever sees more than one bucket's distinct
    * values and the grid (2-dp prices, near-|orders| distinct) never
    * collapses to a single task. U, μ, σ (sqrt — correctly rounded
    * everywhere) and z are IEEE ops on identical longs, so the gate is
    * exact with NO rounding; the oracle derives ranks the OTHER way
    * (row-level rank()+peer windows), so equality proves the
    * distinct-value algebra. */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(2)
        .as("g"), col("o_totalprice").as("v"))
    val vc = o.groupBy(col("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
      .withColumn("bucket", floor(col("v") / 1000.0).cast("long"))
    // bucket-level prefix sum over a table bounded by the value range /
    // bucket width (a knob, not the data); per-value cumsum then
    // partitions on the bucket and adds the broadcast base — identical
    // longs to the single-window form, but max sort state = one bucket
    val bk = vc.groupBy(col("bucket")).agg(sum(col("c")).as("bc"))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("bucket"), col("base"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // base is one row per value bucket — the price spread widens with the
    // corpus, so unhinted: AQE broadcasts while small (r12 growth rule).
    val a = vc.join(base, Seq("bucket"))
      .withColumn("cb",
        col("base") + coalesce(sum(col("c")).over(wIn), lit(0L)))
      .withColumn("ar2", lit(2L) * col("cb") + col("c") + 1L)
      .agg(sum(col("c1") * col("ar2")).cast("long").as("r1_2"),
        sum(col("c1")).cast("long").as("n1"),
        sum(col("c") - col("c1")).cast("long").as("n2"),
        sum(col("c") * col("c") * col("c") - col("c")).cast("long").as("tie3"))
    a.withColumn("u1",
        (col("r1_2") - col("n1") * (col("n1") + 1L)).cast("double") / lit(2.0))
      .withColumn("u2", (col("n1") * col("n2")).cast("double") - col("u1"))
      .withColumn("mu", (col("n1") * col("n2")).cast("double") / lit(2.0))
      .withColumn("sigma2",
        (col("n1") * col("n2")).cast("double") / lit(12.0) *
          ((col("n1") + col("n2") + 1L).cast("double") -
            col("tie3").cast("double") /
              ((col("n1") + col("n2")) * (col("n1") + col("n2") - 1L))
                .cast("double")))
      .select(col("n1"), col("n2"), col("u1"), col("u2"),
        ((col("u1") - col("mu")) / sqrt(col("sigma2"))).as("z"))
      .orderBy(col("n1"))
  }

  /** Kolmogorov-Smirnov two-sample statistic — "are these two
    * distributions the same shape" for the same URGENT vs LOW samples:
    * D = max |F₁(v) − F₂(v)| over the distinct-value grid (CDFs are step
    * functions — the sup is attained at a jump, so the grid is
    * sufficient), plus the √(n₁n₂/n)·D scaling the critical tables use.
    * Same scale posture as [[mannWhitney]]: one grid aggregate + a
    * BUCKET-LOCALIZED cumulative (per-bucket base offsets broadcast back,
    * per-value window partitioned on the bucket — no single-task sort of
    * the value grid); every ratio divides identical longs and
    * max-of-doubles is order-free, so the gate is exact unrounded. */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(2)
        .as("g"), col("o_totalprice").as("v"))
    val vc = o.groupBy(col("v"))
      .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("a1"),
        sum(when(col("g") === 2, 1L).otherwise(0L)).as("a2"))
      .withColumn("bucket", floor(col("v") / 1000.0).cast("long"))
    val tot = vc.agg(sum(col("a1")).cast("long").as("n1"),
      sum(col("a2")).cast("long").as("n2"))
    val bk = vc.groupBy(col("bucket"))
      .agg(sum(col("a1")).as("b1"), sum(col("a2")).as("b2"))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = bk
      .withColumn("base1", coalesce(sum(col("b1")).over(wB), lit(0L)))
      .withColumn("base2", coalesce(sum(col("b2")).over(wB), lit(0L)))
      .select(col("bucket"), col("base1"), col("base2"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    vc.join(broadcast(base), Seq("bucket"))
      .withColumn("cum1", col("base1") + sum(col("a1")).over(wIn))
      .withColumn("cum2", col("base2") + sum(col("a2")).over(wIn))
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"),
        abs(col("cum1").cast("double") / col("n1").cast("double") -
          col("cum2").cast("double") / col("n2").cast("double")).as("gap"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("gap")).as("d_stat"))
      .select(col("n1"), col("n2"), col("d_stat"),
        (sqrt((col("n1") * col("n2")).cast("double") /
          (col("n1") + col("n2")).cast("double")) * col("d_stat"))
          .as("scaled_d"))
      .orderBy(col("n1"))
  }

  /** [[median2Pass]] generalized to a QUANTILE VECTOR (p25/p50/p75/p95/
    * p99 discrete order statistics, k = ⌈p·n⌉) — one histogram pass
    * localizes ALL five order statistics per group at once, pass 2 still
    * re-scans only the union of target buckets, so adding quantiles costs
    * five tiny rows per group, not five scans: the full replacement for
    * the buffering exact-`percentile` at the percentiles dashboards
    * actually serve. Same INDEPENDENT full-sort oracle pattern. */
  def quantiles2Pass(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = Seq(25, 50, 75, 95, 99)
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("v"), col("o_orderkey").as("id"))
      .withColumn("bucket", floor(col("v") / 1000.0).cast("long"))
    val counts = o.groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val cum = counts.withColumn("cum",
      sum(col("bn")).over(Window.partitionBy(col("grp")).orderBy(col("bucket"))))
    val ks = counts.groupBy(col("grp")).agg(sum(col("bn")).as("n"))
      .select(col("grp"), col("n"), explode(array(ps.map(p =>
        struct(lit(p).as("p"), expr(s"($p * n + 99) div 100").as("k"))): _*))
        .as("pk"))
      .select(col("grp"), col("n"), col("pk.p").as("p"), col("pk.k").as("k"))
    val tgt = ks.join(cum, Seq("grp"))
      .filter(col("cum") >= col("k") && col("cum") - col("bn") < col("k"))
      .select(col("grp"), col("p"), col("n"), col("k"), col("bucket"),
        (col("k") - (col("cum") - col("bn"))).as("off"))
    val wIn = Window.partitionBy(col("grp"), col("bucket"))
      .orderBy(col("v"), col("id"))
    o.join(tgt.select(col("grp"), col("bucket")).distinct(), Seq("grp", "bucket"))
      .withColumn("rn", row_number().over(wIn))
      .join(tgt, Seq("grp", "bucket"))
      .filter(col("rn") === col("off"))
      .select(col("grp"), col("p").cast("int").as("p"), col("n"), col("k"),
        col("v").as("value"))
      .orderBy(col("grp"), col("p"))
  }

  /** Trimmed mean (drop the top and bottom 5%) as a RANGED two-pass
    * aggregation — the third member of the [[median2Pass]] family, now
    * summing BETWEEN two order statistics instead of selecting at them:
    * pass 1's histogram carries an exact-DECIMAL per-bucket value sum, so
    * every bucket fully inside the kept rank range contributes its sum
    * with NO re-scan; only the two boundary buckets are re-scanned for an
    * in-bucket rank filter. Decimal addition is order-free, hence
    * bit-exact against the INDEPENDENT full-sort oracle; max sort state
    * is again one bucket. This is how a 100 TB winsorized/robust mean is
    * actually computed — the naive form sorts the whole group. */
  def trimmedMean(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
        col("o_totalprice").as("v"), col("o_orderkey").as("id"))
      .withColumn("bucket", floor(col("v") / 1000.0).cast("long"))
    val counts = o.groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("bn"),
        sum(col("v").cast("decimal(18,4)")).as("bsum"))
    val cum = counts
      .withColumn("cum", sum(col("bn"))
        .over(Window.partitionBy(col("grp")).orderBy(col("bucket"))))
      .withColumn("cb", col("cum") - col("bn"))
    val ns = counts.groupBy(col("grp")).agg(sum(col("bn")).as("n"))
      .withColumn("k1", expr("(5 * n) div 100"))
      .withColumn("k2", expr("n - (5 * n) div 100"))
    val j = cum.join(ns, Seq("grp"))
    val full = j.filter(col("cb") >= col("k1") && col("cum") <= col("k2"))
      .groupBy(col("grp")).agg(sum(col("bsum")).as("fsum"))
    val boundary = j
      .filter(!(col("cb") >= col("k1") && col("cum") <= col("k2")) &&
        col("cum") > col("k1") && col("cb") < col("k2"))
      .select(col("grp"), col("bucket"), col("cb"), col("k1"), col("k2"))
    val wIn = Window.partitionBy(col("grp"), col("bucket"))
      .orderBy(col("v"), col("id"))
    val part = o.join(boundary, Seq("grp", "bucket"))
      .withColumn("rn", row_number().over(wIn))
      .withColumn("gr", col("cb") + col("rn"))
      .filter(col("gr") > col("k1") && col("gr") <= col("k2"))
      .groupBy(col("grp")).agg(sum(col("v").cast("decimal(18,4)")).as("psum"))
    ns.join(full, Seq("grp"), "left").join(part, Seq("grp"), "left")
      .select(col("grp"), col("n"), (col("k2") - col("k1")).as("n_kept"),
        (d2d((coalesce(col("fsum"), lit(0).cast("decimal(28,4)")) +
          coalesce(col("psum"), lit(0).cast("decimal(28,4)")))) /
          (col("k2") - col("k1")).cast("double")).as("trimmed_mean"))
      .orderBy(col("grp"))
  }

  /** 2-D histogram (the heatmap grid behind price-vs-quantity style
    * plots): lineitem binned on (price band, quantity band) with counts
    * and exact-decimal revenue per cell. Banding is integer floor math;
    * one partial+final aggregate to a bounded grid — the reduction that
    * makes a 100 TB scatter plottable. */
  def hist2d(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(
        floor(col("l_extendedprice") / 20000.0).cast("long").as("price_band"),
        floor(col("l_quantity") / 10.0).cast("long").as("qty_band"))
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("price_band"), col("qty_band"))

  /** Gini inequality coefficient per segment (the concentration metric
    * behind wealth/revenue-distribution dashboards), computed WITHOUT
    * materializing per-row ranks: over the distinct-value grid, a value
    * with count c and cumulative-before cb contributes
    * v·c·(2cb + c + 1) to twice the rank-weighted sum (ties collapse to
    * their average rank exactly — same algebra as [[mannWhitney]]), all
    * in exact DECIMAL; G = 2S₁/(nS₀) − (n+1)/n then runs on identical
    * operands. The oracle derives ranks ROW-LEVEL (rank() + peer
    * counts), so equality proves the grid algebra again. Positive
    * balances only (Gini's domain). */
  def giniWealth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(s, d)
      .filter(col("c_acctbal") > 0)
      .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("v"))
    val grid = c.groupBy(col("seg"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", floor(col("v") / 250.0).cast("long"))
    // same bucket localization as [[mannWhitney]], per segment: the
    // per-(seg,bucket) base table is tiny (value range / width), the
    // per-value cumsum partitions on (seg, bucket) — a segment's whole
    // value grid never sorts in one task
    val bk = grid.groupBy(col("seg"), col("bucket"))
      .agg(sum(col("cnt")).as("bc"))
    val wB = Window.partitionBy(col("seg")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("seg"), col("bucket"), col("base"))
    val wIn = Window.partitionBy(col("seg"), col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // base is one row per (seg, value-bucket) — the balance spread widens
    // with the corpus, so unhinted: AQE broadcasts while small.
    grid.join(base, Seq("seg", "bucket"))
      .withColumn("cb",
        col("base") + coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .groupBy(col("seg"))
      .agg(sum(col("cnt")).as("n"),
        d2d(sum(col("v").cast("decimal(12,4)") * col("cnt"))).as("s0"),
        d2d(sum(col("v").cast("decimal(12,4)") *
          (col("cnt") * (lit(2L) * col("cb") + col("cnt") + 1L)))).as("twos1"))
      .select(col("seg"), col("n"),
        (col("s0") / col("n").cast("double")).as("mean_balance"),
        (col("twos1") / (col("n").cast("double") * col("s0")) -
          (col("n") + 1L).cast("double") / col("n").cast("double"))
          .as("gini"))
      .orderBy(col("seg"))
  }

  /** Mutual information between two categoricals (event type × day of
    * week) — the information-theoretic dependence measure next to
    * [[chiSquare]]'s test statistic: I = Σ p·ln(oN/(r·c)) over the same
    * integer contingency table. Each cell's log argument is a ratio of
    * exact BIGINT products; the ln rounds to 6 per cell (repo
    * convention) and the total folds the rounded terms in value order.
    * Same one-scan, tiny-grid scale shape as chiSquare. */
  def mutualInfo(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("nn"))
    val terms = cells
      .join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("dow"))
      .crossJoin(broadcast(tot))
      .withColumn("contrib", round(
        (col("o").cast("double") / col("nn").cast("double")) *
          log((col("o") * col("nn")).cast("double") /
            (col("rt") * col("ct")).cast("double")), 6))
    val mi = terms.agg(aggregate(array_sort(collect_list(col("contrib"))),
      lit(0.0), (a, x) => a + x).as("mi_nats"))
    terms.crossJoin(broadcast(mi))
      .select(col("event_type"), col("dow").cast("int").as("dow"),
        col("o").as("observed"), col("contrib"), col("mi_nats"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Poisson-bootstrap confidence interval for the mean order value — THE
    * distributed bootstrap: instead of resampling n rows with replacement
    * (which needs global coordination), each row independently draws a
    * Poisson(1) multiplicity per replica, which converges to the same
    * resampling distribution and is embarrassingly parallel — one map pass
    * computes all B=32 replicas (the Chamandy et al. / "bag of little
    * bootstraps"-era trick every 100-TB metrics pipeline uses).
    *
    * Determinism: the per-(row, replica) uniform comes from the md5
    * convention; the Poisson draw inverts a LITERAL cdf table (constants
    * identical in both engines — no transcendental is evaluated at query
    * time); prices are exact integer cents, so each replica mean is one
    * division of two exact BIGINTs. The CI is the 2nd/31st order statistic
    * of the 32 replica means — a bounded sorted fold. */
  def bootstrapCi(s: SparkSession, d: String): DataFrame = {
    val cdf = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
      0.9994058151824183, 0.999916758850712, 0.9999897508033253)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val reps = o.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("u",
        (Corpus.md5bucket(concat(lit("bs:"), col("o_orderkey"), lit(":"),
          col("b")), 1000000).cast("double") + 0.5) / 1000000.0)
      .withColumn("w",
        cdf.zipWithIndex.reverse.foldLeft(lit(8L)) { case (e, (t, k)) =>
          when(col("u") < t, lit(k.toLong)).otherwise(e)
        })
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("wsum"))
      .withColumn("mean_b",
        col("wsum").cast("double") / (col("n_eff").cast("double") * 100.0))
    val point = o.agg(
      (sum(col("cents")).cast("double") /
        (count(lit(1)).cast("double") * 100.0)).as("mean"))
    reps.agg(sort_array(collect_list(col("mean_b"))).as("ms"),
        count(lit(1)).as("n_replicas"))
      .crossJoin(point)
      .select(col("mean"), element_at(col("ms"), 2).as("ci_lo"),
        element_at(col("ms"), 31).as("ci_hi"), col("n_replicas"))
      .orderBy(col("n_replicas"))
  }

  override def catalog: Seq[Query] = Seq(
    Query("agg_bootstrap_ci", bootstrapCi, Some(
      """WITH o AS (SELECT o_orderkey,
        |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |draws AS (
        |  SELECT cents, ks.b,
        |    (CAST(CAST(('0x' || substring(md5('bs:' ||
        |        CAST(o_orderkey AS VARCHAR) || ':' || CAST(ks.b AS VARCHAR)),
        |        1, 8)) AS BIGINT) % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u
        |  FROM o CROSS JOIN (SELECT UNNEST(range(0, 32)) AS b) ks),
        |wt AS (
        |  SELECT b, cents,
        |    CASE WHEN u < 0.36787944117144233 THEN CAST(0 AS BIGINT)
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238463 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         WHEN u < 0.999916758850712 THEN 6
        |         WHEN u < 0.9999897508033253 THEN 7
        |         ELSE 8 END AS w
        |  FROM draws),
        |reps AS (
        |  SELECT b, CAST(SUM(w) AS BIGINT) AS n_eff,
        |    CAST(SUM(w * cents) AS BIGINT) AS wsum
        |  FROM wt GROUP BY b),
        |ms AS (
        |  SELECT list_sort(list(CAST(wsum AS DOUBLE) /
        |      (CAST(n_eff AS DOUBLE) * 100.0))) AS l,
        |    CAST(COUNT(*) AS BIGINT) AS n_replicas
        |  FROM reps),
        |pt AS (SELECT CAST(SUM(cents) AS DOUBLE) /
        |    (CAST(COUNT(*) AS DOUBLE) * 100.0) AS mean FROM o)
        |SELECT mean, l[2] AS ci_lo, l[31] AS ci_hi, n_replicas
        |FROM ms CROSS JOIN pt ORDER BY n_replicas""".stripMargin)),
    Query("agg_mutual_info", mutualInfo, Some(
      """WITH cells AS (
        |  SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
        |terms AS (
        |  SELECT c.event_type, c.dow, c.o,
        |    round((CAST(o AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |      ln(CAST(o * nn AS DOUBLE) / CAST(rt.rt * ct.ct AS DOUBLE)),
        |      6) AS contrib
        |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow)
        |  CROSS JOIN tot),
        |mi AS (SELECT list_reduce(list_prepend(0.0,
        |  list(contrib ORDER BY contrib)), (a, x) -> a + x) AS mi_nats
        |  FROM terms)
        |SELECT event_type, dow, o AS observed, contrib, mi_nats
        |FROM terms CROSS JOIN mi
        |ORDER BY event_type, dow""".stripMargin)),
    // INDEPENDENT: row-level rank() + peer counts vs the grid algebra.
    Query("agg_gini_wealth", giniWealth, Some(
      """WITH s AS (
        |  SELECT c_mktsegment AS seg, c_acctbal AS v FROM customer
        |  WHERE c_acctbal > 0),
        |r AS (SELECT seg, v,
        |  rank() OVER (PARTITION BY seg ORDER BY v) AS rk,
        |  COUNT(*) OVER (PARTITION BY seg, v) AS c FROM s),
        |a AS (
        |  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(v AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
        |      AS s0,
        |    CAST(CAST(SUM(CAST(v AS DECIMAL(12,4)) * (2 * rk + c - 1))
        |      AS VARCHAR) AS DOUBLE) AS twos1
        |  FROM r GROUP BY seg)
        |SELECT seg, n, s0 / CAST(n AS DOUBLE) AS mean_balance,
        |  twos1 / (CAST(n AS DOUBLE) * s0) -
        |    CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
        |FROM a ORDER BY seg""".stripMargin)),
    Query("agg_hist2d", hist2d, Some(
      s"""SELECT CAST(floor(l_extendedprice / 20000.0) AS BIGINT)
         |    AS price_band,
         |  CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_band,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  ${sqlDsum("CAST(l_extendedprice AS DECIMAL(18,4))")} AS revenue
         |FROM lineitem GROUP BY 1, 2
         |ORDER BY price_band, qty_band""".stripMargin)),
    // INDEPENDENT: full per-group sort, keep ranks in (k1, k2], exact
    // decimal sum routed via VARCHAR (OracleSafe d2d convention).
    Query("agg_trimmed_mean", trimmedMean, Some(
      """WITH r AS (
        |  SELECT o_orderpriority AS grp, o_totalprice AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |k AS (SELECT DISTINCT grp, n, (5 * n) // 100 AS k1,
        |  n - (5 * n) // 100 AS k2 FROM r)
        |SELECT k.grp, CAST(k.n AS BIGINT) AS n,
        |  CAST(k2 - k1 AS BIGINT) AS n_kept,
        |  CAST(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) /
        |    CAST(k2 - k1 AS DOUBLE) AS trimmed_mean
        |FROM r JOIN k USING (grp)
        |WHERE rn > k1 AND rn <= k2
        |GROUP BY k.grp, k.n, k1, k2 ORDER BY k.grp""".stripMargin)),
    Query("agg_quantiles_2pass", quantiles2Pass, Some(
      """WITH r AS (
        |  SELECT o_orderpriority AS grp, o_totalprice AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |ks AS (SELECT DISTINCT grp, n, p, (p * n + 99) // 100 AS k
        |  FROM r CROSS JOIN (VALUES (25), (50), (75), (95), (99)) pv(p))
        |SELECT ks.grp, CAST(p AS INT) AS p, CAST(ks.n AS BIGINT) AS n,
        |  CAST(k AS BIGINT) AS k, r.v AS value
        |FROM ks JOIN r ON r.grp = ks.grp AND r.rn = ks.k
        |ORDER BY ks.grp, p""".stripMargin)),
    // INDEPENDENT derivation: ROW-LEVEL rank() + peer-count windows vs
    // the Spark side's distinct-value algebra.
    Query("agg_mann_whitney", mannWhitney, Some(
      """WITH s AS (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
        |    AS g, o_totalprice AS v
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |r AS (SELECT g, v, rank() OVER (ORDER BY v) AS rk,
        |  COUNT(*) OVER (PARTITION BY v) AS c FROM s),
        |a AS (SELECT
        |  CAST(SUM(CASE WHEN g = 1 THEN 2 * rk + c - 1 ELSE 0 END)
        |    AS BIGINT) AS r1_2,
        |  CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM r),
        |t AS (SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v))
        |SELECT n1, n2,
        |  CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |  CAST(n1 * n2 AS DOUBLE) -
        |    CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
        |  (CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 -
        |   CAST(n1 * n2 AS DOUBLE) / 2.0) /
        |  sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0 *
        |    (CAST(n1 + n2 + 1 AS DOUBLE) -
        |     CAST(tie3 AS DOUBLE) /
        |       CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))) AS z
        |FROM a CROSS JOIN t ORDER BY n1""".stripMargin)),
    Query("agg_ks_test", ksTest, Some(
      """WITH s AS (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
        |    AS g, o_totalprice AS v
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |vc AS (SELECT v,
        |  CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |  CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2
        |  FROM s GROUP BY v),
        |tot AS (SELECT CAST(SUM(a1) AS BIGINT) AS n1,
        |  CAST(SUM(a2) AS BIGINT) AS n2 FROM vc),
        |c AS (SELECT
        |  SUM(a1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cum1,
        |  SUM(a2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cum2
        |  FROM vc),
        |d AS (SELECT n1, n2,
        |  MAX(abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |          CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS d_stat
        |  FROM c CROSS JOIN tot GROUP BY n1, n2)
        |SELECT n1, n2, d_stat,
        |  sqrt(CAST(n1 * n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) * d_stat
        |    AS scaled_d
        |FROM d ORDER BY n1""".stripMargin)),
    // INDEPENDENT derivation: full per-group sort + row_number order
    // statistics — equality proves the bucket-localization arithmetic.
    Query("agg_median_2pass", median2Pass, Some(
      """WITH r AS (
        |  SELECT o_orderpriority AS grp, o_totalprice AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  MIN(CASE WHEN rn = (n + 1) // 2 THEN v END) AS lo_mid,
        |  MIN(CASE WHEN rn = (n + 2) // 2 THEN v END) AS hi_mid,
        |  (MIN(CASE WHEN rn = (n + 1) // 2 THEN v END) +
        |   MIN(CASE WHEN rn = (n + 2) // 2 THEN v END)) / 2.0 AS median
        |FROM r GROUP BY grp, n ORDER BY grp""".stripMargin)),
    // Both bitmap and built-in columns pin to the same COUNT(DISTINCT):
    // equality proves the bitmap aggregate exact.
    Query("agg_bitmap_distinct", bitmapDistinct, Some(
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_customers_bitmap,
        |  COUNT(DISTINCT o_custkey) AS n_customers_exact,
        |  MAX(o_custkey) AS max_key,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    // Spark dayofweek() is 1=Sunday..7; DuckDB dayofweek() is 0=Sunday..6.
    Query("agg_chi_square", chiSquare, Some(
      """WITH cells AS (
        |  SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS observed
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(SUM(observed) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(SUM(observed) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  COUNT(DISTINCT dow) AS n_dows FROM cells),
        |terms AS (
        |  SELECT c.event_type, c.dow, c.observed,
        |    CAST(rt.rt * ct.ct AS DOUBLE) / CAST(t.n_total AS DOUBLE)
        |      AS expected, t.n_types, t.n_dows
        |  FROM cells c JOIN rt USING (event_type) JOIN ct USING (dow)
        |  CROSS JOIN tot t),
        |t2 AS (SELECT *,
        |  (CAST(observed AS DOUBLE) - expected) *
        |  (CAST(observed AS DOUBLE) - expected) / expected AS contrib
        |  FROM terms),
        |chi AS (SELECT list_reduce(list_prepend(0.0,
        |  list(contrib ORDER BY contrib)), (a, x) -> a + x) AS chi2 FROM t2)
        |SELECT event_type, dow, observed, expected, contrib, chi2,
        |  CAST((n_types - 1) * (n_dows - 1) AS BIGINT) AS dof
        |FROM t2 CROSS JOIN chi
        |ORDER BY event_type, dow""".stripMargin)),
    Query("agg_anova_f", anovaF, Some(
      """WITH li AS MATERIALIZED (
        |  SELECT l_returnflag AS grp,
        |    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |g AS MATERIALIZED (
        |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(CAST(CAST(SUM(CAST(y AS DECIMAL(20,0)))
        |      AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sy
        |  FROM li GROUP BY 1),
        |tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(CAST(SUM(CAST(y AS DECIMAL(20,0)))
        |      AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(CAST(SUM(CAST(y AS DECIMAL(18,0)) *
        |      CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR)
        |      AS DOUBLE) AS syy
        |  FROM li),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    list_reduce(list_prepend(0.0,
        |      list(sy * sy / CAST(n_g AS DOUBLE)
        |        ORDER BY sy * sy / CAST(n_g AS DOUBLE))),
        |      (a, x) -> a + x) AS sum_t
        |  FROM g),
        |f AS (
        |  SELECT t.k, tot.n,
        |    t.sum_t - tot.sy * tot.sy / CAST(tot.n AS DOUBLE) AS ssb,
        |    tot.syy - t.sum_t AS ssw
        |  FROM t CROSS JOIN tot)
        |SELECT k, n, ssb, ssw,
        |  (ssb / CAST(k - 1 AS DOUBLE)) /
        |    (ssw / CAST(n - k AS DOUBLE)) AS f_stat,
        |  ssb / (ssb + ssw) AS eta_sq
        |FROM f""".stripMargin)),
    Query("agg_hhi", hhi, Some(
      """WITH rev AS MATERIALIZED (
        |  SELECT s.s_nationkey, l.l_suppkey,
        |    CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  CAST(SUM(rev) AS BIGINT) AS tot_cents,
        |  CAST(CAST(CAST(SUM(CAST(rev AS DECIMAL(19,0)) * rev)
        |    AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) /
        |  (CAST(CAST(SUM(rev) AS BIGINT) AS DOUBLE) *
        |   CAST(CAST(SUM(rev) AS BIGINT) AS DOUBLE)) AS hhi
        |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_tukey_outliers", tukeyOutliers, Some(
      """WITH li AS MATERIALIZED (
        |  SELECT l_suppkey AS sk,
        |    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |qs AS MATERIALIZED (
        |  SELECT sk,
        |    CAST(MIN(CASE WHEN cd >= 0.25 THEN y END) AS BIGINT) AS q1_c,
        |    CAST(MIN(CASE WHEN cd >= 0.75 THEN y END) AS BIGINT) AS q3_c,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT sk, y,
        |      cume_dist() OVER (PARTITION BY sk ORDER BY y) AS cd
        |    FROM li) t
        |  GROUP BY sk)
        |SELECT li.sk, qs.n, qs.q1_c, qs.q3_c,
        |  CAST(SUM(CASE WHEN 2 * li.y < 5 * qs.q1_c - 3 * qs.q3_c
        |    OR 2 * li.y > 5 * qs.q3_c - 3 * qs.q1_c
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM li JOIN qs ON qs.sk = li.sk
        |GROUP BY li.sk, qs.n, qs.q1_c, qs.q3_c
        |ORDER BY n_outliers DESC, li.sk ASC LIMIT 20""".stripMargin)),
    Query("agg_mode", mode, Some(
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |  ORDER BY n DESC, o_orderpriority) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  CAST(n AS BIGINT) AS mode_n
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_skew_kurtosis", skewKurtosis, Some(
      """WITH s AS (SELECT l_returnflag,
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS s1,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS s2,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS s3,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, n, (s1/n) AS mean,
        |  ((s2/n) - ((s1/n)*(s1/n))) AS m2,
        |  (((s3/n) - ((3.0*(s1/n))*(s2/n))) + ((2.0*(s1/n))*((s1/n)*(s1/n)))) AS m3,
        |  ((((s4/n) - ((4.0*(s1/n))*(s3/n))) + ((6.0*((s1/n)*(s1/n)))*(s2/n)))
        |    - ((3.0*(s1/n))*((s1/n)*((s1/n)*(s1/n))))) AS m4
        |  FROM s)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n, mean,
        |  (m3/(m2*sqrt(m2))) AS skewness,
        |  ((m4/(m2*m2)) - 3.0) AS excess_kurtosis
        |FROM m ORDER BY l_returnflag""".stripMargin)),
    // INDEPENDENT: one full-sort row_number locates the boundary order
    // statistics directly; the interpolation is the same explicit IEEE
    // expression as the Spark side (quantile_cont itself is NOT used, so
    // the gate checks the 2-pass localization against first principles).
    Query("agg_equidepth", equidepthHistogram, Some(
      """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
        |t AS (SELECT l_extendedprice AS p,
        |  row_number() OVER (ORDER BY l_extendedprice) AS rn FROM lineitem),
        |ks AS (SELECT bi, (n - 1) * bi // 8 + 1 AS k1,
        |    (n - 1) * bi % 8 AS r,
        |    (n - 1) * bi // 8 + 1 +
        |      (CASE WHEN (n - 1) * bi % 8 > 0 THEN 1 ELSE 0 END) AS k2
        |  FROM (SELECT unnest([1,2,3,4,5,6,7]) AS bi) CROSS JOIN nn),
        |bv AS (SELECT ks.bi,
        |    t1.p + CAST(ks.r AS DOUBLE) / 8.0 * (t2.p - t1.p) AS bval
        |  FROM ks JOIN t t1 ON t1.rn = ks.k1 JOIN t t2 ON t2.rn = ks.k2),
        |b AS (SELECT list(bval ORDER BY bi) AS bs FROM bv),
        |a AS (SELECT l_extendedprice AS p,
        |  (CASE WHEN l_extendedprice > bs[1] THEN 1 ELSE 0 END
        |   + CASE WHEN l_extendedprice > bs[2] THEN 1 ELSE 0 END
        |   + CASE WHEN l_extendedprice > bs[3] THEN 1 ELSE 0 END
        |   + CASE WHEN l_extendedprice > bs[4] THEN 1 ELSE 0 END
        |   + CASE WHEN l_extendedprice > bs[5] THEN 1 ELSE 0 END
        |   + CASE WHEN l_extendedprice > bs[6] THEN 1 ELSE 0 END
        |   + CASE WHEN l_extendedprice > bs[7] THEN 1 ELSE 0 END) + 1 AS bucket
        |  FROM lineitem CROSS JOIN b)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(p) AS lo, MAX(p) AS hi
        |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // Rows-only: KLL sketch boundaries are engine-specific; Round9Spec
    // asserts the equal-frequency band.
    Query("agg_equidepth_sketch", equidepthSketch, None),
    Query("agg_booleans", booleanAggs, Some(
      """SELECT o_orderstatus,
        |  CAST(bool_and(o_totalprice > 1000) AS INT) AS all_over_1k,
        |  CAST(bool_or(o_totalprice > 400000) AS INT) AS any_over_400k,
        |  CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_over_100k,
        |  arg_max(o_orderkey, o_totalprice * 4294967296 + o_orderkey)
        |    AS key_of_max,
        |  arg_min(o_orderkey, o_totalprice * 4294967296 + o_orderkey)
        |    AS key_of_min
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_weighted_median", weightedMedian, Some(
      """WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |      PARTITION BY l_returnflag ORDER BY l_extendedprice
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER (
        |      PARTITION BY l_returnflag) AS tot
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN cum * 2 >= tot THEN l_extendedprice END) AS wmedian,
        |  CAST(CAST(MAX(tot) AS VARCHAR) AS DOUBLE) AS total_weight
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("agg_regression", regression, Some(
      """SELECT l_returnflag, n,
        |  (sum_xy - sum_x * sum_y / CAST(n AS DOUBLE))
        |    / (sum_x2 - sum_x * sum_x / CAST(n AS DOUBLE)) AS slope,
        |  (sum_y - ((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE))
        |      / (sum_x2 - sum_x * sum_x / CAST(n AS DOUBLE))) * sum_x)
        |    / CAST(n AS DOUBLE) AS intercept,
        |  ((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE))
        |    * (sum_xy - sum_x * sum_y / CAST(n AS DOUBLE)))
        |  / ((sum_x2 - sum_x * sum_x / CAST(n AS DOUBLE))
        |    * (sum_y2 - sum_y * sum_y / CAST(n AS DOUBLE))) AS r2
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_x,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_y,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,4))
        |      * CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_xy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,4))
        |      * CAST(l_quantity AS DECIMAL(8,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_x2,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_y2
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin)),
    Query("agg_corr_cov", corrCov, Some(
      """SELECT l_returnflag, n,
        |  (sum_xy - sum_x * sum_y / n) / (n - 1) AS cov_samp,
        |  (sum_xy - sum_x * sum_y / n)
        |    / sqrt((sum_x2 - sum_x * sum_x / n)
        |         * (sum_y2 - sum_y * sum_y / n)) AS corr
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_x,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_y,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,4))
        |      * CAST(l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_xy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(8,4))
        |      * CAST(l_quantity AS DECIMAL(8,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_x2,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS VARCHAR)
        |      AS DOUBLE) AS sum_y2
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin)),
    Query("agg_winsorize", winsorize, Some(
      """WITH b AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, MIN(p05) AS p05, MIN(p95) AS p95,
        |  COUNT(*) FILTER (WHERE value < p05) AS n_low,
        |  COUNT(*) FILTER (WHERE value > p95) AS n_high,
        |  CAST(CAST(SUM(CASE WHEN value >= p05 AND value <= p95
        |    THEN CAST(value AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
        |    AS sum_kept
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin)),
    Query("agg_unpivot", unpivotPartMetrics, Some(
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
        |  FROM part WHERE p_partkey <= 500
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice', p_retailprice
        |  FROM part WHERE p_partkey <= 500) u
        |ORDER BY p_partkey, metric""".stripMargin)),
    Query("agg_pivot", pivotStatusPriority, Some(
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_variance", varianceStats, Some(
      """SELECT o_orderstatus, n, sum_x / n AS mean,
        |  (sum_x2 - sum_x * sum_x / n) / (n - 1) AS variance,
        |  sqrt((sum_x2 - sum_x * sum_x / n) / (n - 1)) AS stddev
        |FROM (
        |  SELECT o_orderstatus, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_x,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
        |      * CAST(o_totalprice AS DECIMAL(19,4))) AS VARCHAR) AS DOUBLE) AS sum_x2
        |  FROM orders GROUP BY o_orderstatus) t
        |ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_percentile_disc", percentileDisc, Some(
      """SELECT o_orderpriority,
        |  MIN(CASE WHEN cd >= 0.25 THEN o_totalprice END) AS p25_disc,
        |  MIN(CASE WHEN cd >= 0.5 THEN o_totalprice END) AS p50_disc,
        |  MIN(CASE WHEN cd >= 0.9 THEN o_totalprice END) AS p90_disc,
        |  COUNT(*) AS n
        |FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |    cume_dist() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice) AS cd
        |  FROM orders) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("agg_topk_heap", topKHeap, Some(
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),
    Query("agg_argmax_udaf", argMaxOrder, Some(
      """SELECT o_custkey, o_orderkey AS best_order FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),
    Query("agg_stats", stats, Some(
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
         |  ${sqlDsum("CAST(o_totalprice AS DECIMAL(18,4))")} AS sum_price,
         |  ${sqlDsum("CAST(o_totalprice AS DECIMAL(18,4))")} / COUNT(o_totalprice) AS avg_price
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Query("agg_rollup", rollupStatus, Some(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${sqlDsum("CAST(o_totalprice AS DECIMAL(18,4))")} AS sum_price
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    Query("agg_cube", cubeFlags, Some(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${sqlDsum("CAST(l_quantity AS DECIMAL(18,4))")} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    Query("agg_grouping_sets", groupingSets, Some(
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus) AS g_status,
        |  GROUPING(o_orderpriority) AS g_priority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),
    Query("agg_filtered", filteredAgg, Some(
      s"""SELECT l_returnflag,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_discount > 0.05) AS VARCHAR) AS DOUBLE) AS qty_high_disc,
         |  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
         |  COUNT(*) AS n_all
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("agg_collect", collectSorted, Some(
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_quantiles", quantiles, Some(
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  quantile_cont(o_totalprice, 0.99) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_histogram", histogram, Some(
      """SELECT CAST(FLOOR(value / 20.0) AS BIGINT) AS bucket, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // Rows-only: sketch estimates are engine-specific.
    Query("agg_approx_distinct", approxDistinct, None),
    Query("agg_hll_union", hllUnion, None),
    Query("agg_approx_quantiles", approxQuantiles, None),
    Query("agg_heavy_hitters", heavyHitters, None),
    Query("agg_cms_tokens", cmsTokens, None),
  )
}
