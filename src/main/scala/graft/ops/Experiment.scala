package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}
import graft.OracleSafe.d2d

/** Experimentation analytics beyond the running A/B readouts
  * ([[Events.sprt]], ev_ab_test): difference-in-differences, CUPED
  * variance reduction, and uplift by pre-exposure activity — the three
  * workhorse causal/efficiency readouts of a modern experiment platform.
  *
  * Scale posture (100 TB): each query collapses the event stream to a
  * per-user (or per-cell) exact-integer moment table in ONE partial+final
  * hash agg; every statistic is then a single float expression over those
  * frozen sums (the chi-square / ANOVA discipline), so nothing downstream
  * of the first aggregate grows with the corpus and every compared value
  * is bit-identical across engines. Arm assignment follows the house
  * convention (user_id parity / residue); the pre/post boundary is the
  * fixture window's midpoint date. */
object Experiment extends QueryModule {

  private val splitTs = "TIMESTAMP '2024-01-16 00:00:00'"

  /** Difference-in-differences on the purchase-conversion rate:
    * (treated post − treated pre) − (control post − control pre).
    * The four cells are exact (events, purchases) pairs; rates are single
    * divisions and the DiD estimate is one shared float expression,
    * replicated onto each cell row (the chi-square layout). */
  def did(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .select(expr("user_id % 2").as("arm"),
        when(col("ts") < expr(splitTs), lit("pre")).otherwise(lit("post"))
          .as("period"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .groupBy(col("arm"), col("period"))
      .agg(count(lit(1)).as("n_events"), sum(col("conv")).as("n_conv"))
      .withColumn("rate",
        col("n_conv").cast("double") / col("n_events").cast("double"))
    def cell(a: Int, p: String) =
      first(when(col("arm") === a.toLong && col("period") === p,
        col("rate")), ignoreNulls = true)
    val est = cells.agg(
      (cell(1, "post") - cell(1, "pre") - (cell(0, "post") - cell(0, "pre")))
        .as("did"))
    cells.crossJoin(broadcast(est))
      .select(col("arm"), col("period"), col("n_events"), col("n_conv"),
        col("rate"), col("did"))
      .orderBy(col("arm"), col("period"))
  }

  /** CUPED: variance reduction of the post-period outcome using the
    * pre-period covariate (Deng et al. 2013 — public-knowledge method).
    * Per user: X = pre-period event count, Y = post-period purchases.
    * θ = cov(X,Y)/var(X) and var(Y_adj) = var(Y) − cov²/var(X), all
    * derived from five exact BIGINT moment sums (n, ΣX, ΣY, ΣXX, ΣXY,
    * ΣYY) in one shared float expression tree — the user table is the
    * only shuffle. */
  def cuped(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .select(col("user_id"),
        when(col("ts") < expr(splitTs), 1L).otherwise(0L).as("x"),
        when(col("ts") >= expr(splitTs) &&
          col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("user_id"))
      .agg(sum(col("x")).as("x"), sum(col("y")).as("y"))
    val m = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    // Population (co)variances scaled by n² stay integer-exact:
    // n·Σxy − Σx·Σy etc.; one float division each at readout.
    m.select(col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("theta"),
        ((col("n") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("n") * col("n")).cast("double")).as("var_y"),
        (((col("n") * col("syy") - col("sy") * col("sy")).cast("double") -
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") *
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) /
          (col("n") * col("n")).cast("double")).as("var_y_adj"))
      .withColumn("var_reduction",
        lit(1.0) - col("var_y_adj") / col("var_y"))
  }

  /** Uplift by pre-exposure activity level: treatment−control conversion
    * gap per capped pre-period-activity bucket (min(X, 9) — a bounded,
    * sort-free stratification; heterogeneous treatment effects without a
    * corpus-wide quantile pass). Cells are exact integer pairs; the gap
    * is one subtraction of two single divisions. */
  def upliftBucket(s: SparkSession, d: String): DataFrame = {
    val perUser = Tables.events(s, d)
      .select(col("user_id"),
        when(col("ts") < expr(splitTs), 1L).otherwise(0L).as("x"),
        when(col("ts") >= expr(splitTs) &&
          col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("user_id"))
      .agg(sum(col("x")).as("x"), sum(col("y")).as("y"))
      .select(expr("user_id % 2").as("arm"),
        least(col("x"), lit(9L)).as("bucket"),
        when(col("y") > 0L, 1L).otherwise(0L).as("conv"))
    val cells = perUser.groupBy(col("bucket"), col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    def arm(a: Int, c: String) =
      first(when(col("arm") === a.toLong, col(c)), ignoreNulls = true)
    cells.groupBy(col("bucket"))
      .agg(arm(0, "n_users").as("n_control"), arm(0, "n_conv").as("conv_control"),
        arm(1, "n_users").as("n_treated"), arm(1, "n_conv").as("conv_treated"))
      .filter(col("n_control").isNotNull && col("n_treated").isNotNull)
      .select(col("bucket"), col("n_control"), col("conv_control"),
        col("n_treated"), col("conv_treated"),
        (col("conv_treated").cast("double") / col("n_treated").cast("double") -
          col("conv_control").cast("double") / col("n_control").cast("double"))
          .as("uplift"))
      .orderBy(col("bucket"))
  }

  /** Effect size of the arm difference on event value: Cohen's d with the
    * pooled standard deviation, plus the Welch 95% CI of the mean
    * difference — the "is it LARGE, not just significant" readout that
    * belongs next to every p-value. Per-arm moments are exact BIGINT cent
    * sums (routed decimal→string→double where they exceed 2⁵³); d and
    * the CI are one shared float expression tree, z = 1.96 a design
    * literal. */
  def effectSize(s: SparkSession, d: String): DataFrame = {
    val m = Tables.events(s, d)
      .select(expr("user_id % 2").as("arm"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        d2d(sum(col("c").cast("decimal(18,0)") * col("c").cast("decimal(18,0)"))
          .cast("decimal(38,0)")).as("scc"))
    def arm(a: Int, c: String) =
      first(when(col("arm") === a.toLong, col(c)), ignoreNulls = true)
    val wide = m.agg(
      arm(0, "n").as("n0"), arm(0, "sc").as("s0"), arm(0, "scc").as("q0"),
      arm(1, "n").as("n1"), arm(1, "sc").as("s1"), arm(1, "scc").as("q1"))
    // Sample variances s² = (n·Q − S²)/(n·(n−1)); all in cents.
    def v(n: Column, sc: Column, q: Column): Column =
      (n.cast("double") * q - sc.cast("double") * sc.cast("double")) /
        (n.cast("double") * (n - 1L).cast("double"))
    val (m0, m1) = (col("s0").cast("double") / col("n0").cast("double"),
      col("s1").cast("double") / col("n1").cast("double"))
    val (v0, v1) = (v(col("n0"), col("s0"), col("q0")),
      v(col("n1"), col("s1"), col("q1")))
    val sp = sqrt(((col("n0") - 1L).cast("double") * v0 +
      (col("n1") - 1L).cast("double") * v1) /
      (col("n0") + col("n1") - 2L).cast("double"))
    val se = sqrt(v0 / col("n0").cast("double") +
      v1 / col("n1").cast("double"))
    wide.select(col("n0"), col("n1"),
      (m0 / lit(100.0)).as("mean_control"),
      (m1 / lit(100.0)).as("mean_treated"),
      ((m1 - m0) / sp).as("cohens_d"),
      ((m1 - m0 - lit(1.96) * se) / lit(100.0)).as("ci_lo"),
      ((m1 - m0 + lit(1.96) * se) / lit(100.0)).as("ci_hi"))
  }

  override def catalog: Seq[Query] = Seq(
    Query("ev_effect_size", effectSize, Some(
      """WITH m AS MATERIALIZED (
        |  SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sc,
        |    CAST(CAST(CAST(SUM(
        |      CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
        |        AS DECIMAL(18,0)) *
        |      CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
        |        AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR)
        |      AS DOUBLE) AS scc
        |  FROM events GROUP BY 1),
        |wide AS (
        |  SELECT MAX(n) FILTER (arm = 0) AS n0,
        |    MAX(sc) FILTER (arm = 0) AS s0, MAX(scc) FILTER (arm = 0) AS q0,
        |    MAX(n) FILTER (arm = 1) AS n1,
        |    MAX(sc) FILTER (arm = 1) AS s1, MAX(scc) FILTER (arm = 1) AS q1
        |  FROM m),
        |c AS (
        |  SELECT *,
        |    CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        |    (CAST(n0 AS DOUBLE) * q0 -
        |      CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)) /
        |      (CAST(n0 AS DOUBLE) * CAST(n0 - 1 AS DOUBLE)) AS v0,
        |    (CAST(n1 AS DOUBLE) * q1 -
        |      CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
        |      (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS v1
        |  FROM wide)
        |SELECT n0, n1, m0 / 100.0 AS mean_control, m1 / 100.0 AS mean_treated,
        |  (m1 - m0) / SQRT((CAST(n0 - 1 AS DOUBLE) * v0 +
        |    CAST(n1 - 1 AS DOUBLE) * v1) /
        |    CAST(n0 + n1 - 2 AS DOUBLE)) AS cohens_d,
        |  (m1 - m0 - 1.96 * SQRT(v0 / CAST(n0 AS DOUBLE) +
        |    v1 / CAST(n1 AS DOUBLE))) / 100.0 AS ci_lo,
        |  (m1 - m0 + 1.96 * SQRT(v0 / CAST(n0 AS DOUBLE) +
        |    v1 / CAST(n1 AS DOUBLE))) / 100.0 AS ci_hi
        |FROM c""".stripMargin)),
    Query("ev_did", did, Some(
      s"""WITH cells AS MATERIALIZED (
        |  SELECT user_id % 2 AS arm,
        |    CASE WHEN ts < $splitTs THEN 'pre' ELSE 'post' END AS period,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
        |      AS n_conv
        |  FROM events GROUP BY 1, 2),
        |r AS MATERIALIZED (
        |  SELECT *, CAST(n_conv AS DOUBLE) / CAST(n_events AS DOUBLE)
        |    AS rate FROM cells),
        |est AS (
        |  SELECT
        |    MAX(rate) FILTER (arm = 1 AND period = 'post') -
        |    MAX(rate) FILTER (arm = 1 AND period = 'pre') -
        |    (MAX(rate) FILTER (arm = 0 AND period = 'post') -
        |     MAX(rate) FILTER (arm = 0 AND period = 'pre')) AS did
        |  FROM r)
        |SELECT arm, period, n_events, n_conv, rate, did
        |FROM r CROSS JOIN est
        |ORDER BY arm, period""".stripMargin)),
    Query("ev_cuped", cuped, Some(
      s"""WITH pu AS MATERIALIZED (
        |  SELECT user_id,
        |    CAST(COUNT(*) FILTER (ts < $splitTs) AS BIGINT) AS x,
        |    CAST(COUNT(*) FILTER (ts >= $splitTs
        |      AND event_type = 'purchase') AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pu)
        |SELECT n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
        |  CAST(n * syy - sy * sy AS DOUBLE) /
        |    CAST(n * n AS DOUBLE) AS var_y,
        |  (CAST(n * syy - sy * sy AS DOUBLE) -
        |   CAST(n * sxy - sx * sy AS DOUBLE) *
        |   CAST(n * sxy - sx * sy AS DOUBLE) /
        |   CAST(n * sxx - sx * sx AS DOUBLE)) /
        |    CAST(n * n AS DOUBLE) AS var_y_adj,
        |  1.0 - ((CAST(n * syy - sy * sy AS DOUBLE) -
        |   CAST(n * sxy - sx * sy AS DOUBLE) *
        |   CAST(n * sxy - sx * sy AS DOUBLE) /
        |   CAST(n * sxx - sx * sx AS DOUBLE)) /
        |    CAST(n * n AS DOUBLE)) /
        |   (CAST(n * syy - sy * sy AS DOUBLE) /
        |    CAST(n * n AS DOUBLE)) AS var_reduction
        |FROM m""".stripMargin)),
    Query("ev_uplift_bucket", upliftBucket, Some(
      s"""WITH pu AS MATERIALIZED (
        |  SELECT user_id,
        |    CAST(COUNT(*) FILTER (ts < $splitTs) AS BIGINT) AS x,
        |    CAST(COUNT(*) FILTER (ts >= $splitTs
        |      AND event_type = 'purchase') AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |u AS MATERIALIZED (
        |  SELECT user_id % 2 AS arm, LEAST(x, 9) AS bucket,
        |    CASE WHEN y > 0 THEN 1 ELSE 0 END AS conv
        |  FROM pu),
        |cells AS MATERIALIZED (
        |  SELECT bucket, arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(conv) AS BIGINT) AS n_conv
        |  FROM u GROUP BY 1, 2),
        |wide AS (
        |  SELECT bucket,
        |    MAX(n_users) FILTER (arm = 0) AS n_control,
        |    MAX(n_conv) FILTER (arm = 0) AS conv_control,
        |    MAX(n_users) FILTER (arm = 1) AS n_treated,
        |    MAX(n_conv) FILTER (arm = 1) AS conv_treated
        |  FROM cells GROUP BY 1)
        |SELECT bucket, n_control, conv_control, n_treated, conv_treated,
        |  CAST(conv_treated AS DOUBLE) / CAST(n_treated AS DOUBLE) -
        |  CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE)
        |    AS uplift
        |FROM wide
        |WHERE n_control IS NOT NULL AND n_treated IS NOT NULL
        |ORDER BY bucket""".stripMargin)),
  )
}
