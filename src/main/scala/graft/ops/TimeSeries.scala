package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.OracleSafe.d2d

/** Time-series analytics over the event stream: autocorrelation (the
  * seasonality detector), additive trend/seasonal/remainder decomposition
  * (the classical-STL shape), and a deterministic ε-greedy bandit replay
  * (sequential decision-making over the daily grid — the "would the
  * experiment platform have converged" readout).
  *
  * Scale posture (100 TB): every query first collapses the corpus to a
  * CALENDAR-BOUNDED grid (hours or days of the observation window) with
  * one partial+final hash agg — the only corpus-proportional work. The
  * unpartitioned windows and the sequential fold that follow run on that
  * grid, whose size is fixed by wall-clock time, not data volume (the
  * `ev_sprt` / `ev_cusum_drift` precedent). All cross-engine-compared
  * values are exact integers or single correctly-rounded float readouts
  * over exact sums.
  */
object TimeSeries extends QueryModule {

  /** Autocorrelation of the hourly event-count series at lags 0..24 — the
    * direct test for a daily cycle. The grid is zero-filled (a silent hour
    * IS a data point), and the mean is removed exactly: with n the grid
    * size and S = Σx, the centered series is y_t = n·x_t − S (integer), so
    * acf_k = Σ y_t·y_{t+k} / Σ y_t² — both sums exact (the n² factors
    * cancel), routed decimal→string→double (the OracleSafe d2d trick), and
    * ONE float division at readout. The 25-lag fan-out joins the hourly
    * grid to itself on a shifted key — linear in the grid, which is
    * calendar-bounded. */
  def acf(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("x"))
    val grid = counts.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .select(explode(sequence(col("hmin"), col("hmax"))).as("h"))
    val xs = grid.join(counts, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val st = xs.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val ys = xs.crossJoin(broadcast(st))
      .select(col("h"), (col("n") * col("x") - col("s")).as("y"))
    // The y·y products are widened to DECIMAL(19,0)² = (38,0) BEFORE the
    // sum (the agg_anova_f discipline — a plain BIGINT sum would wrap past
    // 2^63 while DuckDB promotes to HUGEINT), then → string → double for
    // the correctly-rounded identical readout on both engines.
    def dsum(a: Column, b: Column): Column =
      d2d(sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)"))
        .cast("decimal(38,0)"))
    val den = ys.agg(dsum(col("y"), col("y")).as("den"))
    val lags = s.range(0, 25).select(col("id").as("k"))
    ys.crossJoin(broadcast(lags))
      .join(ys.select(col("h").as("h2"), col("y").as("y2")),
        col("h2") === col("h") + col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        dsum(col("y"), col("y2")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"), (col("num") / col("den")).as("acf"))
      .orderBy(col("k"))
  }

  /** Classical additive decomposition of the daily count series:
    * trend = centered 7-day moving average (full windows only),
    * seasonal = per-phase mean of the detrended series (phase = epoch-day
    * mod 7 — a 7-day cycle index that needs no engine-specific dow()),
    * remainder = series − trend − seasonal. Everything is micro-frozen
    * BIGINT: trend = (10⁶·Σ₇x) div 7, seasonal = floor of ONE double
    * division of exact sums, remainder pure integer subtraction. The
    * 7-row window runs unpartitioned over the day grid — calendar-bounded,
    * the SPRT precedent. */
  def stlDaily(s: SparkSession, d: String): DataFrame =
    stlFromCounts(
      Tables.events(s, d)
        .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("x")))

  /** The engine-independent tail of the decomposition: takes the raw
    * (day, count) cells — batch aggregate OR drained streaming aggregate
    * (`ev_stream_stl_daily`) — zero-fills the calendar grid and runs the
    * trend/seasonal/remainder algebra. Shared so stream ≡ batch is plan
    * identity past the source. */
  private[graft] def stlFromCounts(counts: DataFrame): DataFrame = {
    val grid = counts.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(explode(sequence(col("dmin"), col("dmax"))).as("d"))
    val xs = grid.join(counts, Seq("d"), "left")
      .select(col("d"), coalesce(col("x"), lit(0L)).as("x"))
    val w7 = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val trended = xs
      .withColumn("w7", sum(col("x")).over(w7))
      .withColumn("cnt7", count(lit(1)).over(w7))
      .filter(col("cnt7") === 7)
      .select(col("d"), col("x"),
        expr("(1000000 * w7) div 7").as("trend_micro"),
        pmod(col("d"), lit(7L)).as("phase"))
      .withColumn("detr_micro",
        lit(1000000L) * col("x") - col("trend_micro"))
    val seas = trended.groupBy(col("phase"))
      .agg(floor(sum(col("detr_micro")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("seas_micro"))
    trended.join(broadcast(seas), Seq("phase"))
      .select(col("d"), col("x"), col("trend_micro"), col("phase"),
        col("seas_micro"),
        (lit(1000000L) * col("x") - col("trend_micro") - col("seas_micro"))
          .as("rem_micro"))
      .orderBy(col("d"))
  }

  /** Anomaly flags on the STL residuals — "which days deviate from trend
    * AND season". The 2σ test never touches a float: |rem − μ| > 2σ is
    * evaluated as (m·rem − S)² > 4·(m·Q − S²) over exact decimal squares
    * (headroom to ~10⁴× fixture scale inside DECIMAL(38,0)), so the flag
    * is bit-identical by construction. Reads the [[stlDaily]] table —
    * same calendar-bounded posture. */
  def stlAnomaly(s: SparkSession, d: String): DataFrame = {
    val stl = stlDaily(s, d)
    val mo = stl.agg(count(lit(1)).as("m"), sum(col("rem_micro")).as("sr"),
      sum(col("rem_micro").cast("decimal(18,0)") *
        col("rem_micro").cast("decimal(18,0)")).cast("decimal(38,0)").as("q"))
    val lhs = (col("rem_micro") * col("m") - col("sr")).cast("decimal(19,0)")
    val rhs = lit(4) * (col("m") * col("q") -
      col("sr").cast("decimal(19,0)") * col("sr").cast("decimal(19,0)"))
    stl.crossJoin(broadcast(mo))
      .select(col("d"), col("x"), col("rem_micro"),
        when(lhs * lhs > rhs, 1L).otherwise(0L).as("is_anomaly"))
      .orderBy(col("d"))
  }

  /** ε-greedy bandit replay over the daily grid, arms = user_id mod 3,
    * reward = that arm's purchases that day. The policy is fully
    * deterministic — days 1–3 initialize each arm once; every 5th day
    * explores arm (t div 5) mod 3; all other days exploit the best
    * empirical rate, compared by exact integer CROSS-MULTIPLICATION
    * (sᵢ·nⱼ vs sⱼ·nᵢ, ties to the lower arm) so no division ever happens.
    * The inherently sequential replay is ONE bounded fold over the sorted
    * ≤|days| grid (the cusum pattern); per-arm cumulative rewards are
    * recovered afterwards as arm-partitioned running sums of the emitted
    * trajectory (state only changes when an arm is played). The DuckDB
    * oracle replays the identical recurrence as a recursive CTE. */
  def banditReplay(s: SparkSession, d: String): DataFrame =
    banditTrajectory(
      Tables.events(s, d)
        .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"),
          expr("user_id % 3").as("arm"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
        .groupBy(col("d"), col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("sv")))

  /** The engine-independent tail of the bandit replay: takes the
    * per-(day, arm) trial/success cells — from the batch aggregate OR a
    * drained streaming aggregate (`ev_stream_bandit`) — pivots to the
    * day grid and runs the deterministic fold. Shared so stream ≡ batch
    * is equality of PLANS past the source, not a re-implementation. */
  private[graft] def banditTrajectory(cells: DataFrame): DataFrame = {
    def armAgg(a: Int, c: String): Column =
      sum(when(col("arm") === a.toLong, col(c)).otherwise(0L))
    val daily = cells
      .groupBy(col("d"))
      .agg(armAgg(0, "n").as("n0"), armAgg(0, "sv").as("s0"),
        armAgg(1, "n").as("n1"), armAgg(1, "sv").as("s1"),
        armAgg(2, "n").as("n2"), armAgg(2, "sv").as("s2"))
      .withColumn("t",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
    // The chosen-arm expression, inlined everywhere the lambda needs it
    // (SQL lambdas have no let-binding). gt01 = "arm 1 beats arm 0".
    val gt01 = "(st.s1 * st.n0 > st.s0 * st.n1)"
    val arm =
      s"""(CASE WHEN e.t <= 3 THEN e.t - 1
         |  WHEN e.t % 5 = 0 THEN (e.t div 5) % 3
         |  ELSE CASE WHEN st.s2 *
         |      (CASE WHEN $gt01 THEN st.n1 ELSE st.n0 END) >
         |      (CASE WHEN $gt01 THEN st.s1 ELSE st.s0 END) * st.n2
         |    THEN CAST(2 AS BIGINT)
         |    ELSE CASE WHEN $gt01 THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END END
         |END)""".stripMargin
    val foldSql =
      s"""aggregate(
         |  array_sort(collect_list(struct(t, d, n0, s0, n1, s1, n2, s2))),
         |  named_struct(
         |    's0', CAST(0 AS BIGINT), 'n0', CAST(0 AS BIGINT),
         |    's1', CAST(0 AS BIGINT), 'n1', CAST(0 AS BIGINT),
         |    's2', CAST(0 AS BIGINT), 'n2', CAST(0 AS BIGINT),
         |    'hist', CAST(array() AS ARRAY<STRUCT<t: BIGINT, d: BIGINT,
         |      arm: BIGINT, obs_s: BIGINT, obs_n: BIGINT>>)),
         |  (st, e) -> named_struct(
         |    's0', st.s0 + IF($arm = 0, e.s0, CAST(0 AS BIGINT)),
         |    'n0', st.n0 + IF($arm = 0, e.n0, CAST(0 AS BIGINT)),
         |    's1', st.s1 + IF($arm = 1, e.s1, CAST(0 AS BIGINT)),
         |    'n1', st.n1 + IF($arm = 1, e.n1, CAST(0 AS BIGINT)),
         |    's2', st.s2 + IF($arm = 2, e.s2, CAST(0 AS BIGINT)),
         |    'n2', st.n2 + IF($arm = 2, e.n2, CAST(0 AS BIGINT)),
         |    'hist', concat(st.hist, array(named_struct(
         |      't', e.t, 'd', e.d, 'arm', $arm,
         |      'obs_s', element_at(array(e.s0, e.s1, e.s2),
         |        CAST($arm AS INT) + 1),
         |      'obs_n', element_at(array(e.n0, e.n1, e.n2),
         |        CAST($arm AS INT) + 1))))))""".stripMargin
    val wArm = Window.partitionBy(col("arm")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.agg(expr(foldSql).as("st"))
      .select(explode(col("st.hist")).as("e"))
      .select(col("e.t").as("t"), col("e.d").as("d"), col("e.arm").as("arm"),
        col("e.obs_s").as("obs_s"), col("e.obs_n").as("obs_n"))
      .withColumn("cum_s", sum(col("obs_s")).over(wArm))
      .withColumn("cum_n", sum(col("obs_n")).over(wArm))
      .orderBy(col("t"))
  }

  /** The frozen DFT basis: cos/sin micro-integers at the 24 hour-of-day
    * phases for f ∈ {1,2,3,4} cycles/day. Computed ONCE at plan-build
    * time in the JVM and embedded as literals in BOTH the Spark plan and
    * the oracle SQL (generated from this same list) — so no query-time
    * transcendental ever runs on either engine. */
  private lazy val dftBasis: Seq[(Long, Long, Long, Long)] =
    for (f <- 1L to 4L; p <- 0L until 24L) yield (f, p,
      math.floor(1e6 * math.cos(2.0 * math.Pi * f * p / 24.0)).toLong,
      math.floor(1e6 * math.sin(2.0 * math.Pi * f * p / 24.0)).toLong)

  /** Periodogram of the hourly count series at 24/12/8/6-hour periods —
    * the frequency-domain seasonality detector (is there a daily cycle,
    * and how strong?). The projection Σ xₜ·cos / Σ xₜ·sin runs against
    * the FROZEN micro-integer basis keyed by hour-of-day phase, so the
    * per-frequency sums are exact BIGINTs (silent hours contribute zero —
    * no gap-fill needed); amplitude is a readout of correctly-rounded
    * float ops over those two exact ints. Scale: one hash agg to the
    * hourly grid, then a broadcast join against the 96-row basis —
    * map-only past the grid. The raw-count projection leaks the mean into
    * f≥1 only through the basis' floor error (|Σc_micro| ≤ 24), which is
    * part of the pinned definition. */
  def periodogram(s: SparkSession, d: String): DataFrame = {
    val basis = s.createDataFrame(dftBasis).toDF("f", "p", "c_micro", "s_micro")
    val counts = Tables.events(s, d)
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("x"))
      .withColumn("p", pmod(col("h"), lit(24L)))
    counts.join(broadcast(basis), Seq("p"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x") * col("c_micro")).as("sc"),
        sum(col("x") * col("s_micro")).as("ss"))
      .select(col("f"), col("n_terms"), col("sc"), col("ss"),
        sqrt(col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")).as("magnitude"))
      .orderBy(col("f"))
  }

  /** Stationary distribution of the event-type Markov chain by 8 rounds
    * of power iteration — "where does user behavior settle". The whole
    * iteration is EXACT INTEGER arithmetic: the distribution is carried
    * nano-scaled (v₀ = 10⁹/|states|) and each step is
    * vₜ₊₁(j) = Σᵢ (vₜ(i)·c(i,j)) div rᵢ — truncating division is part of
    * the pinned definition (mass leaks ≤|states| nanos per step), so both
    * engines produce identical BIGINTs with NO float folds (contrast
    * pagerank's ordered-fold doubles). The chain matrix is |types|² ≤ 25
    * cells (broadcast); only the transition count is corpus-sized. */
  def markovStationary(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val counts = Tables.events(s, d)
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // 25-cell matrix feeds every round
    val r = counts.groupBy(col("cur")).agg(sum(col("c")).as("r"))
    val mat = counts.join(broadcast(r), Seq("cur"))
      .select(col("cur"), col("nxt"), col("c"), col("r"))
      .localCheckpoint(false)
    val states = mat.select(col("cur").as("state")).distinct()
    var v = states
      .crossJoin(broadcast(states.agg(count(lit(1)).as("k"))))
      .select(col("state"), expr("1000000000 div k").as("v"))
    for (_ <- 1 to 8) {
      v = mat.join(v.select(col("state").as("cur"), col("v")), Seq("cur"))
        .select(col("nxt").as("state"),
          expr("(v * c) div r").as("term"))
        .groupBy(col("state")).agg(sum(col("term")).as("v"))
        .localCheckpoint(false)
    }
    val tot = v.agg(sum(col("v")).as("tot"))
    v.crossJoin(broadcast(tot))
      .select(col("state"), col("v").as("v_nano"),
        (col("v").cast("double") / col("tot").cast("double")).as("pi"))
      .orderBy(col("state"))
  }

  /** Markov data-driven attribution (removal effects): model each user
    * journey as an absorbing chain — START → channel states (click /
    * view / signup / error) → CONV (first purchase) or NULL (journey
    * ends) — and credit each channel by how much conversion probability
    * DISAPPEARS when paths through it are severed (edges into the
    * removed channel redirect to NULL; no renormalization, the standard
    * removal-effect convention). Absorption-within-8-steps probabilities
    * come from 8 value-iteration rounds over the ≤(5 variants × 6
    * states) matrix; every per-state sum folds its ≤7 terms in ascending
    * VALUE order (the chi-square pin — scalar doubles, not structs), so
    * the floats are bit-identical across engines. Journeys truncate at
    * the first purchase; only the transition-count aggregation touches
    * the corpus. */
  def attributionMarkov(s: SparkSession, d: String): DataFrame = {
    val wRk = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ranked = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("rk", row_number().over(wRk).cast("long"))
    val fp = ranked.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rk")).as("fp_rk"))
    val kept = ranked.join(fp, Seq("user_id"), "left")
      .filter(col("fp_rk").isNull || col("rk") <= col("fp_rk"))
    val wk = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val steps = kept
      .withColumn("nxt_raw", lead(col("event_type"), 1).over(wk))
      .withColumn("nxt",
        when(col("nxt_raw") === "purchase", "conv")
          .when(col("nxt_raw").isNull, "null")
          .otherwise(col("nxt_raw")))
      .filter(col("event_type") =!= "purchase")
      .select(col("event_type").as("cur"), col("nxt"))
    val starts = kept.filter(col("rk") === 1L)
      .select(lit("start").as("cur"),
        when(col("event_type") === "purchase", "conv")
          .otherwise(col("event_type")).as("nxt"))
    val counts = steps.unionByName(starts)
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds all 5 variants + row totals
    val r = counts.groupBy(col("cur")).agg(sum(col("c")).as("r"))
    val channels = Seq("click", "view", "signup", "error")
    // Variant matrices: 'full' keeps every edge; removing channel x
    // redirects edges INTO x to the NULL absorber and drops x's rows.
    val variants = (Seq("full") ++ channels).map { v =>
      val m0 = counts.join(broadcast(r), Seq("cur"))
      val m =
        if (v == "full") m0
        else m0.filter(col("cur") =!= v)
          .select(col("cur"),
            when(col("nxt") === v, "null").otherwise(col("nxt")).as("nxt"),
            col("c"), col("r"))
          .groupBy(col("cur"), col("nxt"), col("r"))
          .agg(sum(col("c")).as("c"))
      m.select(lit(v).as("variant"), col("cur"), col("nxt"), col("c"),
        col("r"))
    }.reduce(_ unionByName _).localCheckpoint(false)
    var p = variants.select(col("variant"), col("cur").as("state"))
      .distinct()
      .withColumn("p", lit(0.0))
      .localCheckpoint(false)
    for (_ <- 1 to 8) {
      p = variants
        .join(p.select(col("variant"), col("state").as("nxt"),
          col("p").as("pn")), Seq("variant", "nxt"), "left")
        .withColumn("v",
          when(col("nxt") === "conv", lit(1.0))
            .when(col("nxt") === "null", lit(0.0))
            .otherwise(coalesce(col("pn"), lit(0.0))))
        .withColumn("term",
          col("c").cast("double") / col("r").cast("double") * col("v"))
        .groupBy(col("variant"), col("cur").as("state"))
        .agg(aggregate(array_sort(collect_list(col("term"))), lit(0.0),
          (a, x) => a + x).as("p"))
        .localCheckpoint(false)
    }
    val pStart = p.filter(col("state") === "start")
      .select(col("variant"), col("p").as("p_conv"))
      .localCheckpoint(false)
    val pFull = pStart.filter(col("variant") === "full")
      .select(col("p_conv").as("p_full"))
    val effects = pStart.filter(col("variant") =!= "full")
      .crossJoin(broadcast(pFull))
      .withColumn("removal_effect",
        lit(1.0) - col("p_conv") / col("p_full"))
    val tot = effects.agg(aggregate(
      array_sort(collect_list(col("removal_effect"))), lit(0.0),
      (a, x) => a + x).as("sum_re"))
    effects.crossJoin(broadcast(tot))
      .select(col("variant").as("channel"), col("p_conv"),
        col("p_full"), col("removal_effect"),
        (col("removal_effect") / col("sum_re")).as("attribution"))
      .orderBy(col("channel"))
  }

  /** Shared STL oracle prefix: the full decomposition table as one CTE
    * chain (re-read by the anomaly twin). */
  private lazy val stlCtes: String =
    """counts AS MATERIALIZED (
      |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |bounds AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM counts),
      |grid AS (SELECT UNNEST(range(dmin, dmax + 1)) AS d FROM bounds),
      |xs AS MATERIALIZED (
      |  SELECT g.d, COALESCE(c.x, CAST(0 AS BIGINT)) AS x
      |  FROM grid g LEFT JOIN counts c USING (d)),
      |trended AS MATERIALIZED (
      |  SELECT d, x, CAST((1000000 * w7) // 7 AS BIGINT) AS trend_micro,
      |    d % 7 AS phase,
      |    CAST(1000000 * x - (1000000 * w7) // 7 AS BIGINT) AS detr_micro
      |  FROM (
      |    SELECT d, x,
      |      SUM(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
      |        AND 3 FOLLOWING) AS w7,
      |      COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
      |        AND 3 FOLLOWING) AS cnt7
      |    FROM xs)
      |  WHERE cnt7 = 7),
      |seas AS (
      |  SELECT phase, CAST(FLOOR(CAST(SUM(detr_micro) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS seas_micro
      |  FROM trended GROUP BY 1),
      |stl AS MATERIALIZED (
      |  SELECT t.d, t.x, t.trend_micro, t.phase, s.seas_micro,
      |    CAST(1000000 * t.x - t.trend_micro - s.seas_micro AS BIGINT)
      |      AS rem_micro
      |  FROM trended t JOIN seas s USING (phase))""".stripMargin

  /** Oracle of `ts_stl_daily`, also gating its streaming twin
    * `ev_stream_stl_daily`. */
  private[graft] val stlDailySql: String =
    s"""WITH $stlCtes
      |SELECT d, x, trend_micro, phase, seas_micro, rem_micro
      |FROM stl ORDER BY d""".stripMargin

  /** Oracle of `ts_bandit_replay`, also gating its streaming twin
    * `ev_stream_bandit`. */
  private[graft] val banditReplaySql: String = {
    val gt01 = "(rec.s1 * rec.n0 > rec.s0 * rec.n1)"
    val arm =
      s"""(CASE WHEN rn.t <= 3 THEN rn.t - 1
         |  WHEN rn.t % 5 = 0 THEN (rn.t // 5) % 3
         |  ELSE CASE WHEN rec.s2 *
         |      (CASE WHEN $gt01 THEN rec.n1 ELSE rec.n0 END) >
         |      (CASE WHEN $gt01 THEN rec.s1 ELSE rec.s0 END) * rec.n2
         |    THEN 2
         |    ELSE CASE WHEN $gt01 THEN 1 ELSE 0 END END
         |END)""".stripMargin
    s"""WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS d,
      |    CAST(COUNT(*) FILTER (user_id % 3 = 0) AS BIGINT) AS n0,
      |    CAST(COUNT(*) FILTER (user_id % 3 = 0
      |      AND event_type = 'purchase') AS BIGINT) AS s0,
      |    CAST(COUNT(*) FILTER (user_id % 3 = 1) AS BIGINT) AS n1,
      |    CAST(COUNT(*) FILTER (user_id % 3 = 1
      |      AND event_type = 'purchase') AS BIGINT) AS s1,
      |    CAST(COUNT(*) FILTER (user_id % 3 = 2) AS BIGINT) AS n2,
      |    CAST(COUNT(*) FILTER (user_id % 3 = 2
      |      AND event_type = 'purchase') AS BIGINT) AS s2
      |  FROM events GROUP BY 1),
      |rn AS MATERIALIZED (
      |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      |  FROM daily),
      |rec AS (
      |  SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS d,
      |    CAST(-1 AS BIGINT) AS arm,
      |    CAST(0 AS BIGINT) AS obs_s, CAST(0 AS BIGINT) AS obs_n,
      |    CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS n0,
      |    CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS n1,
      |    CAST(0 AS BIGINT) AS s2, CAST(0 AS BIGINT) AS n2
      |  UNION ALL
      |  SELECT z.t, z.d, CAST(z.arm AS BIGINT),
      |    CASE z.arm WHEN 0 THEN z.e_s0 WHEN 1 THEN z.e_s1
      |      ELSE z.e_s2 END,
      |    CASE z.arm WHEN 0 THEN z.e_n0 WHEN 1 THEN z.e_n1
      |      ELSE z.e_n2 END,
      |    z.s0 + CASE WHEN z.arm = 0 THEN z.e_s0 ELSE 0 END,
      |    z.n0 + CASE WHEN z.arm = 0 THEN z.e_n0 ELSE 0 END,
      |    z.s1 + CASE WHEN z.arm = 1 THEN z.e_s1 ELSE 0 END,
      |    z.n1 + CASE WHEN z.arm = 1 THEN z.e_n1 ELSE 0 END,
      |    z.s2 + CASE WHEN z.arm = 2 THEN z.e_s2 ELSE 0 END,
      |    z.n2 + CASE WHEN z.arm = 2 THEN z.e_n2 ELSE 0 END
      |  FROM (
      |    SELECT rn.t, rn.d, rn.n0 AS e_n0, rn.s0 AS e_s0,
      |      rn.n1 AS e_n1, rn.s1 AS e_s1, rn.n2 AS e_n2, rn.s2 AS e_s2,
      |      rec.s0, rec.n0, rec.s1, rec.n1, rec.s2, rec.n2,
      |      $arm AS arm
      |    FROM rec JOIN rn ON rn.t = rec.t + 1) z)
      |SELECT t, d, arm, obs_s, obs_n,
      |  CAST(SUM(obs_s) OVER (PARTITION BY arm ORDER BY t) AS BIGINT)
      |    AS cum_s,
      |  CAST(SUM(obs_n) OVER (PARTITION BY arm ORDER BY t) AS BIGINT)
      |    AS cum_n
      |FROM rec WHERE t >= 1 ORDER BY t""".stripMargin
  }

  override def catalog: Seq[Query] = Seq(
    Query("ev_attribution_markov", attributionMarkov, Some {
      val term =
        """CAST(v.c AS DOUBLE) / CAST(v.r AS DOUBLE) *
          |      CASE WHEN v.nxt = 'conv' THEN CAST(1 AS DOUBLE)
          |        WHEN v.nxt = 'null' THEN CAST(0 AS DOUBLE)
          |        ELSE COALESCE(p.p, CAST(0 AS DOUBLE)) END""".stripMargin
      val rounds = (1 to 8).map { k =>
        s"""p$k AS MATERIALIZED (
           |  SELECT v.variant, v.cur AS state,
           |    list_reduce(list_prepend(0.0, list(
           |      $term
           |      ORDER BY
           |      $term)),
           |      (a, x) -> a + x) AS p
           |  FROM variants v LEFT JOIN p${k - 1} p
           |    ON p.variant = v.variant AND p.state = v.nxt
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH ranked AS MATERIALIZED (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS rk
        |  FROM events),
        |fp AS (SELECT user_id, MIN(rk) AS fp_rk FROM ranked
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |kept AS MATERIALIZED (
        |  SELECT r.*, f.fp_rk FROM ranked r LEFT JOIN fp f USING (user_id)
        |  WHERE f.fp_rk IS NULL OR r.rk <= f.fp_rk),
        |steps AS (
        |  SELECT event_type AS cur,
        |    CASE WHEN nr = 'purchase' THEN 'conv'
        |      WHEN nr IS NULL THEN 'null' ELSE nr END AS nxt
        |  FROM (SELECT *, LEAD(event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS nr FROM kept)
        |  WHERE event_type <> 'purchase'),
        |starts AS (
        |  SELECT 'start' AS cur,
        |    CASE WHEN event_type = 'purchase' THEN 'conv'
        |      ELSE event_type END AS nxt
        |  FROM kept WHERE rk = 1),
        |counts AS MATERIALIZED (
        |  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT * FROM steps UNION ALL SELECT * FROM starts)
        |  GROUP BY 1, 2),
        |rr AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS r FROM counts
        |  GROUP BY 1),
        |m0 AS MATERIALIZED (
        |  SELECT c.cur, c.nxt, c.c, r.r FROM counts c JOIN rr r USING (cur)),
        |variants AS MATERIALIZED (
        |  SELECT 'full' AS variant, cur, nxt, c, r FROM m0
        |  UNION ALL
        |  SELECT ch.v, m.cur,
        |    CASE WHEN m.nxt = ch.v THEN 'null' ELSE m.nxt END AS nxt,
        |    CAST(SUM(m.c) AS BIGINT) AS c, m.r
        |  FROM m0 m CROSS JOIN (VALUES ('click'), ('view'), ('signup'),
        |    ('error')) ch(v)
        |  WHERE m.cur <> ch.v
        |  GROUP BY 1, 2, 3, 5),
        |p0 AS MATERIALIZED (
        |  SELECT DISTINCT variant, cur AS state, CAST(0 AS DOUBLE) AS p
        |  FROM variants),
        |$rounds,
        |ps AS MATERIALIZED (SELECT variant, p AS p_conv FROM p8
        |  WHERE state = 'start'),
        |pf AS (SELECT p_conv AS p_full FROM ps WHERE variant = 'full'),
        |eff AS MATERIALIZED (
        |  SELECT variant AS channel, p_conv, pf.p_full,
        |    1.0 - p_conv / pf.p_full AS removal_effect
        |  FROM ps CROSS JOIN pf WHERE variant <> 'full'),
        |tot AS (SELECT list_reduce(list_prepend(0.0,
        |  list(removal_effect ORDER BY removal_effect)),
        |  (a, x) -> a + x) AS sum_re FROM eff)
        |SELECT channel, p_conv, p_full, removal_effect,
        |  removal_effect / sum_re AS attribution
        |FROM eff CROSS JOIN tot ORDER BY channel""".stripMargin
    }),
    Query("ev_markov_stationary", markovStationary, Some {
      val rounds = (1 to 8).map { t =>
        s"""v$t AS MATERIALIZED (
           |  SELECT m.nxt AS state, CAST(SUM((v.v * m.c) // m.r) AS BIGINT)
           |    AS v
           |  FROM mat m JOIN v${t - 1} v ON v.state = m.cur
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |counts AS MATERIALIZED (
        |  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM pairs WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |rr AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS r
        |  FROM counts GROUP BY 1),
        |mat AS MATERIALIZED (
        |  SELECT c.cur, c.nxt, c.c, r.r FROM counts c JOIN rr r USING (cur)),
        |v0 AS MATERIALIZED (
        |  SELECT state, CAST(1000000000 // k AS BIGINT) AS v
        |  FROM (SELECT DISTINCT cur AS state FROM mat)
        |  CROSS JOIN (SELECT CAST(COUNT(DISTINCT cur) AS BIGINT) AS k
        |    FROM mat)),
        |$rounds,
        |tot AS (SELECT CAST(SUM(v) AS BIGINT) AS tot FROM v8)
        |SELECT state, v AS v_nano,
        |  CAST(v AS DOUBLE) / CAST(tot AS DOUBLE) AS pi
        |FROM v8 CROSS JOIN tot ORDER BY state""".stripMargin
    }),
    Query("ts_periodogram", periodogram, Some {
      val rows = dftBasis
        .map { case (f, p, c, sn) => s"($f, $p, $c, $sn)" }
        .mkString(",\n|    ")
      s"""WITH basis(f, p, c_micro, s_micro) AS (VALUES
        |    $rows),
        |counts AS MATERIALIZED (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1)
        |SELECT CAST(b.f AS BIGINT) AS f, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(c.x * b.c_micro) AS BIGINT) AS sc,
        |  CAST(SUM(c.x * b.s_micro) AS BIGINT) AS ss,
        |  SQRT(CAST(CAST(SUM(c.x * b.c_micro) AS BIGINT) AS DOUBLE) *
        |       CAST(CAST(SUM(c.x * b.c_micro) AS BIGINT) AS DOUBLE) +
        |       CAST(CAST(SUM(c.x * b.s_micro) AS BIGINT) AS DOUBLE) *
        |       CAST(CAST(SUM(c.x * b.s_micro) AS BIGINT) AS DOUBLE))
        |    AS magnitude
        |FROM counts c JOIN basis b ON b.p = c.h % 24
        |GROUP BY b.f ORDER BY f""".stripMargin
    }),
    Query("ts_acf", acf, Some(
      """WITH counts AS MATERIALIZED (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM counts),
        |grid AS (SELECT UNNEST(range(hmin, hmax + 1)) AS h FROM bounds),
        |xs AS MATERIALIZED (
        |  SELECT g.h, COALESCE(c.x, CAST(0 AS BIGINT)) AS x
        |  FROM grid g LEFT JOIN counts c USING (h)),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS s FROM xs),
        |ys AS MATERIALIZED (
        |  SELECT h, n * x - s AS y FROM xs CROSS JOIN st),
        |den AS (SELECT CAST(CAST(CAST(SUM(y * y) AS DECIMAL(38,0))
        |  AS VARCHAR) AS DOUBLE) AS den FROM ys),
        |lags AS (SELECT UNNEST(range(0, 25)) AS k),
        |num AS (
        |  SELECT l.k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(CAST(CAST(SUM(a.y * b.y) AS DECIMAL(38,0)) AS VARCHAR)
        |      AS DOUBLE) AS num
        |  FROM lags l
        |  JOIN ys a ON TRUE
        |  JOIN ys b ON b.h = a.h + l.k
        |  GROUP BY 1)
        |SELECT k, n_pairs, num / den AS acf
        |FROM num CROSS JOIN den ORDER BY k""".stripMargin)),
    Query("ts_stl_daily", stlDaily, Some(stlDailySql)),
    Query("ts_stl_anomaly", stlAnomaly, Some(
      s"""WITH $stlCtes,
        |mo AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    CAST(SUM(rem_micro) AS BIGINT) AS sr,
        |    CAST(SUM(CAST(rem_micro AS DECIMAL(18,0)) *
        |      CAST(rem_micro AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS q
        |  FROM stl)
        |SELECT s.d, s.x, s.rem_micro,
        |  CASE WHEN
        |    CAST(s.rem_micro * mo.m - mo.sr AS DECIMAL(19,0)) *
        |    CAST(s.rem_micro * mo.m - mo.sr AS DECIMAL(19,0)) >
        |    4 * (mo.m * mo.q -
        |      CAST(mo.sr AS DECIMAL(19,0)) * CAST(mo.sr AS DECIMAL(19,0)))
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_anomaly
        |FROM stl s CROSS JOIN mo ORDER BY s.d""".stripMargin)),
    Query("ts_bandit_replay", banditReplay, Some(banditReplaySql)),
  )
}
