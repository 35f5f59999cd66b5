package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Survival analysis over the event stream (SURVEY.md §2.13 extension —
  * time-to-event with censoring): Kaplan-Meier curves, per-cohort curves,
  * and the two-sample log-rank test. The unit of analysis is a user's
  * time from first activity to first purchase, administratively censored
  * at a 48-hour analysis window — the standard product-analytics framing
  * ("how fast do users convert, counting the ones who haven't yet").
  *
  * Scale posture: one groupBy(user) pass reduces the stream to |users|
  * duration rows; everything after runs on the TIME GRID, which is bounded
  * by the censoring window (49 points — a knob, not the data), so the
  * unpartitioned prefix-sum windows are grid-bounded per the house rule;
  * the cohort variant partitions every window by the cohort key — the
  * shape that scales to thousands of cohorts.
  *
  * Oracle parity: durations are exact integer hours (µs-integer division —
  * never engine-specific calendar datediff semantics); at-risk / event /
  * censor counts are BIGINT throughout; the KM product is carried in LOG
  * space as per-step floor-frozen micro-nats (floor(10⁶·ln((n−d)/n)) —
  * an exact integer both engines agree on; a 1-ulp ln wobble moves the
  * argument by ~10⁻¹⁰, far from any floor boundary in practice), summed
  * exactly, and exponentiated once under round(6). */
object Survival extends QueryModule {

  private val windowH = 48L // administrative censoring horizon (hours)

  /** Per-user duration rows: observed hours (censored at the window) and
    * the event indicator. µs-integer subtraction + integer division keeps
    * the hour arithmetic exact and engine-agnostic. */
  private def durations(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("tp"))
      .withColumn("dur_h", expr("(tp - t0) div 3600000000"))
      .select(col("user_id"),
        when(col("dur_h") <= windowH, col("dur_h")).otherwise(lit(windowH))
          .as("t"),
        when(col("dur_h") <= windowH, 1L).otherwise(0L).as("event"))

  private val durationsSql =
    s"""durs AS (
       |  SELECT user_id,
       |    CASE WHEN dur_h <= $windowH THEN dur_h
       |         ELSE CAST($windowH AS BIGINT) END AS t,
       |    CASE WHEN dur_h <= $windowH THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS event
       |  FROM (
       |    SELECT user_id,
       |      (MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
       |        - MIN(epoch_us(ts))) // 3600000000 AS dur_h
       |    FROM events GROUP BY user_id))""".stripMargin

  /** Grid rows (t, d, c) + at-risk + KM survival, optionally partitioned
    * by a cohort column. The at-risk prefix and the log-space product both
    * window over the ≤ 49-point grid. */
  private def kmCurve(durs: DataFrame, parts: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pcols = parts.map(col)
    val grid = durs.groupBy((pcols :+ col("t")): _*)
      .agg(sum(col("event")).as("d"),
        sum(lit(1L) - col("event")).as("c"))
    val wCum =
      (if (parts.isEmpty) Window.orderBy(col("t"))
       else Window.partitionBy(pcols: _*).orderBy(col("t")))
    val wRun = wCum.rowsBetween(Window.unboundedPreceding, 0)
    val wAfter = wCum.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      // at-risk at t = everyone who exits at t or later (suffix sum)
      .withColumn("n_risk", sum(col("d") + col("c")).over(wAfter))
      .withColumn("term_mu",
        when(col("d") > 0L && col("n_risk") > col("d"),
          floor(lit(1000000.0) *
            log((col("n_risk") - col("d")).cast("double") /
              col("n_risk").cast("double"))).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("dead",
        when(col("d") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("cum_mu", sum(col("term_mu")).over(wRun))
      .withColumn("cum_dead", sum(col("dead")).over(wRun))
      .withColumn("s_km",
        when(col("cum_dead") > 0L, lit(0.0))
          .otherwise(round(exp(col("cum_mu").cast("double") / 1000000.0), 6)))
      .select((pcols ++ Seq(col("t"), col("n_risk"), col("d"), col("c"),
        col("s_km"))): _*)
  }

  /** KM oracle body shared by the plain and cohort variants: `pcolsSel`
    * like "arm, " (with trailing comma) and `partBy` like
    * "PARTITION BY arm " (with trailing space), empty for the pooled
    * curve. */
  private def kmSql(pcolsSel: String, partBy: String): String =
    s"""grid AS (
       |  SELECT ${pcolsSel}t, CAST(SUM(event) AS BIGINT) AS d,
       |    CAST(SUM(1 - event) AS BIGINT) AS c
       |  FROM durs GROUP BY ${if (pcolsSel.isEmpty) "t" else pcolsSel + "t"}),
       |curve AS (
       |  SELECT ${pcolsSel}t, d, c,
       |    CAST(SUM(d + c) OVER (${partBy}ORDER BY t
       |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |      AS BIGINT) AS n_risk
       |  FROM grid),
       |terms AS (
       |  SELECT *,
       |    CASE WHEN d > 0 AND n_risk > d THEN
       |      CAST(FLOOR(1000000.0 * LN(CAST(n_risk - d AS DOUBLE) /
       |        CAST(n_risk AS DOUBLE))) AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END AS term_mu,
       |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS dead
       |  FROM curve)
       |SELECT ${pcolsSel}t, n_risk, d, c,
       |  CASE WHEN SUM(dead) OVER (${partBy}ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
       |    THEN 0.0
       |    ELSE ROUND(EXP(CAST(SUM(term_mu) OVER (${partBy}ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |        AS DOUBLE) / 1000000.0), 6) END AS s_km
       |FROM terms""".stripMargin

  /** Pooled Kaplan-Meier curve: t, at-risk, events, censored, S(t). */
  def km(s: SparkSession, d: String): DataFrame =
    kmCurve(durations(s, d), Seq.empty).orderBy(col("t"))

  /** Per-cohort KM curves (cohort = user_id mod 3 — the A/B/C arm split a
    * product experiment produces). Every window partitions by the arm, so
    * the plan holds with thousands of cohorts: per-cohort grid state only.
    */
  def kmArms(s: SparkSession, d: String): DataFrame =
    kmCurve(
      durations(s, d).withColumn("arm", expr("user_id % 3")),
      Seq("arm"))
      .orderBy(col("arm"), col("t"))

  /** Two-sample log-rank test between arms 0 and 1: at every pooled event
    * time, observed-minus-expected events in arm 1 and the hypergeometric
    * variance, both floor-frozen to exact micro-unit BIGINTs before the
    * sum (float adds over the grid would be order-sensitive); the χ²
    * statistic is one float expression over the two exact sums. */
  def logrank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val durs = durations(s, d)
      .withColumn("arm", expr("user_id % 3"))
      .filter(col("arm") < 2L)
    val grid = durs.groupBy(col("t"))
      .agg(sum(col("event")).as("d"),
        sum(lit(1L) - col("event")).as("c"),
        sum(when(col("arm") === 1L, col("event")).otherwise(0L)).as("d1"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("x1"))
    val wAfter = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rows = grid
      .withColumn("n", sum(col("d") + col("c")).over(wAfter))
      .withColumn("n1", sum(col("x1")).over(wAfter))
      .filter(col("d") > 0L)
      .withColumn("e1",
        col("d").cast("double") * col("n1").cast("double") /
          col("n").cast("double"))
      .withColumn("o_mu",
        floor(lit(1000000.0) * (col("d1").cast("double") - col("e1")))
          .cast("long"))
      .withColumn("v_mu",
        when(col("n") > 1L,
          floor(lit(1000000.0) *
            (col("d").cast("double") * (col("n1").cast("double") / col("n").cast("double")) *
              ((col("n") - col("n1")).cast("double") / col("n").cast("double")) *
              ((col("n") - col("d")).cast("double") / (col("n") - 1L).cast("double"))))
            .cast("long"))
          .otherwise(lit(0L)))
    rows.agg(
        sum(col("d1")).as("obs1"),
        sum(col("d")).as("events"),
        sum(col("o_mu")).as("o_mu"),
        sum(col("v_mu")).as("v_mu"))
      .withColumn("chi2",
        (col("o_mu").cast("double") / 1000000.0) *
          (col("o_mu").cast("double") / 1000000.0) /
          (col("v_mu").cast("double") / 1000000.0))
      .select(col("obs1"), col("events"), col("o_mu"), col("v_mu"),
        col("chi2"))
      .orderBy(col("events"))
  }

  override def catalog: Seq[Query] = Seq(
    Query("surv_km", km, Some(
      s"""WITH $durationsSql,
         |${kmSql("", "")}
         |ORDER BY t""".stripMargin)),
    Query("surv_km_arms", kmArms, Some(
      s"""WITH $durationsSql,
         |darm AS (SELECT *, user_id % 3 AS arm FROM durs),
         |${kmSql("arm, ", "PARTITION BY arm ").replace("FROM durs", "FROM darm")}
         |ORDER BY arm, t""".stripMargin)),
    Query("surv_logrank", logrank, Some(
      s"""WITH $durationsSql,
         |darm AS (SELECT *, user_id % 3 AS arm FROM durs WHERE user_id % 3 < 2),
         |grid AS (
         |  SELECT t, CAST(SUM(event) AS BIGINT) AS d,
         |    CAST(SUM(1 - event) AS BIGINT) AS c,
         |    CAST(SUM(CASE WHEN arm = 1 THEN event ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x1
         |  FROM darm GROUP BY t),
         |risk AS (
         |  SELECT *,
         |    CAST(SUM(d + c) OVER (ORDER BY t
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
         |    CAST(SUM(x1) OVER (ORDER BY t
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1
         |  FROM grid),
         |terms AS (
         |  SELECT *,
         |    CAST(FLOOR(1000000.0 * (CAST(d1 AS DOUBLE) -
         |      CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)))
         |      AS BIGINT) AS o_mu,
         |    CASE WHEN n > 1 THEN
         |      CAST(FLOOR(1000000.0 * (CAST(d AS DOUBLE) *
         |        (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) *
         |        (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE)) *
         |        (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)))) AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS v_mu
         |  FROM risk WHERE d > 0)
         |SELECT CAST(SUM(d1) AS BIGINT) AS obs1,
         |  CAST(SUM(d) AS BIGINT) AS events,
         |  CAST(SUM(o_mu) AS BIGINT) AS o_mu,
         |  CAST(SUM(v_mu) AS BIGINT) AS v_mu,
         |  (CAST(SUM(o_mu) AS DOUBLE) / 1000000.0) *
         |    (CAST(SUM(o_mu) AS DOUBLE) / 1000000.0) /
         |    (CAST(SUM(v_mu) AS DOUBLE) / 1000000.0) AS chi2
         |FROM terms ORDER BY events""".stripMargin)),
  )
}
