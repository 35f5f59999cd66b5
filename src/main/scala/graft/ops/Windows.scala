package graft.ops

import graft.{Query, QueryModule, Tables}
import graft.OracleSafe.d2d
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.6).
  *
  * Scale posture: one shuffle on the partition key per window spec; frames
  * are evaluated within sorted partitions (WindowExec). Running sums use
  * exact decimal inside the frame so the cumulative value is add-order-free.
  * Top-k-per-group filters rank ≤ k immediately after the window — the
  * distributed alternative to a global sort. */
object Windows extends QueryModule {

  /** Top-3 orders per customer by price, deterministic tie-break on key. */
  def topKPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Running (cumulative) sum per customer in date order — exact decimal in
    * the frame, string→double out (see OracleSafe). */
  def runningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("running_total",
        d2d(sum(col("o_totalprice").cast("decimal(18,4)")).over(w)))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("orderdate"), col("running_total"))
      .orderBy(col("o_custkey"), col("orderdate"), col("o_orderkey"))
  }

  /** lag/lead: µs gap between consecutive events of a user. */
  def lagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("gap_us"), col("next_type"))
      .orderBy(col("event_id"))
  }

  /** rank / dense_rank / ntile over parts within brand — the §2.6 ranking
    * battery demo. Scale posture: per-brand partitions grow with the
    * corpus (corpus/|brands| rows sort in one task — GroupScan-flagged),
    * which is inherent to full per-row rank OUTPUT over a low-cardinality
    * key; the corpus-sized result, not the sort, is the real cost. When
    * the 100-TB ask is ranks, it is almost always top-k (agg_topk_heap —
    * bounded-heap, shuffle k·|keys|) or an order statistic
    * (agg_median_2pass / agg_percentile_disc — bucket-localized); this
    * query stays the window-function demonstration. */
  def ranks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_size"), col("p_partkey"))
    val wTile = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
    Tables.part(s, d)
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(wTile))
      // (rank−1)/(n−1) and rank/n are single IEEE divisions of integers —
      // bit-identical across engines, no decimal routing needed.
      .withColumn("pct_rk", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        col("rk"), col("drk"), col("quartile"), col("pct_rk"), col("cume"))
      .orderBy(col("p_brand"), col("p_partkey"))
  }

  /** RANGE frame on a numeric day offset: count of the same customer's
    * orders in the trailing 30 days. */
  def rangeFrame(s: SparkSession, d: String): DataFrame = {
    val days = datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_no"))
      .rangeBetween(-30, 0)
    Tables.orders(s, d)
      .withColumn("day_no", days)
      .withColumn("n_last_30d", count(lit(1)).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("day_no"), col("n_last_30d"))
      .orderBy(col("o_custkey"), col("day_no"), col("o_orderkey"))
  }

  /** first/last over an unbounded frame: customer's first and latest order
    * dates + span in days. */
  def firstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .withColumn("first_date", first(col("o_orderdate")).over(w).cast("date"))
      .withColumn("last_date", last(col("o_orderdate")).over(w).cast("date"))
      .select(col("o_custkey"), col("o_orderkey"), col("first_date"), col("last_date"),
        datediff(col("last_date"), col("first_date")).as("span_days"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Exact rolling median over a ±3-row frame per user — `percentile` as a
    * WINDOW aggregate (≡ DuckDB `quantile_cont` bit-for-bit, including the
    * linear interpolation on even frames). The frame orders by (µs,
    * event_id) so ties are deterministic; one shuffle on user_id, frame
    * size is a constant 7 so per-row work is O(1) at any scale. */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id")).rowsBetween(-3, 3)
    Tables.events(s, d)
      .filter(col("user_id") % 97 === 0)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("user_id"), col("event_id"),
        percentile(col("value"), lit(0.5)).over(w).as("med7"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Rolling REGRESSION slope (trailing-7-day OLS trend per event type) —
    * the "is this metric trending up" detector behind alerting and
    * forecasting: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) where x = epoch
    * day and y = daily count, all five moments coming from integer SUM
    * windows over the REDUCED daily grid (|types|×|days| rows — raw
    * events only hit the first aggregate). Every moment is an exact
    * BIGINT (no float accumulation: 7·Σx² ≈ 2×10¹⁰ fits comfortably), so
    * the one division runs on identical operands — exact unrounded gate.
    * Emitted only for full 7-day frames. */
  def rollingSlope(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("x"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .filter(col("cnt") === 7)
      .select(col("event_type"), col("x").as("day_no"), col("y").as("n"),
        ((col("cnt") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("cnt") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope_7d"))
      .orderBy(col("event_type"), col("day_no"))
  }

  /** Maximum DRAWDOWN of the cumulative-abnormal-revenue series (the
    * event-study / risk metric): per segment, the daily series
    * n·cents_d − total (each day's revenue vs the segment's mean day,
    * SCALED BY n so it stays integer-exact — no rational mean anywhere)
    * cumulates, and drawdown is running-max minus current. All window
    * math is BIGINT over the reduced |segments|×|days| grid; only the
    * final descale divides identical longs. Reports the worst drawdown
    * and its depth in mean-day units. */
  def drawdown(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      // Unhinted: customer grows with the corpus (auto-broadcast at
      // fixture scale, AQE shuffle at 100×).
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long").as("cents"))
    val tot = daily.groupBy(col("seg"))
      .agg(sum(col("cents")).as("total"), count(lit(1)).as("nd"))
    val wCum = Window.partitionBy(col("seg")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(broadcast(tot), Seq("seg"))
      .withColumn("scaled", col("nd") * col("cents") - col("total"))
      .withColumn("cum", sum(col("scaled")).over(wCum))
      .withColumn("runmax", max(col("cum")).over(wCum))
      .groupBy(col("seg"))
      .agg(max(col("nd")).as("n_days"),
        max(col("runmax") - col("cum")).cast("long").as("max_dd_scaled"))
      .select(col("seg"), col("n_days"), col("max_dd_scaled"),
        (col("max_dd_scaled").cast("double") /
          col("n_days").cast("double")).as("max_dd_cents_mean_days"))
      .orderBy(col("seg"))
  }

  /** RSI-14 (simple form) on the daily revenue series: gains/losses are
    * day-over-day deltas of exact integer cents, the 14-row trailing
    * frame sums stay BIGINT, and RSI = 100·ΣG/(ΣG+ΣL) is one float
    * division (the Wilder-smoothed variant would be a sequential
    * recursion — the simple moving form is the distributed one). Windows
    * run on the calendar-bounded daily aggregate (the rel_mom_growth
    * precedent). */
  def rsi(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .as("cents"))
    val wD = Window.orderBy(col("day"))
    val w14 = Window.orderBy(col("day")).rowsBetween(-13, 0)
    daily
      .withColumn("delta", col("cents") - lag(col("cents"), 1).over(wD))
      .filter(col("delta").isNotNull)
      .withColumn("gain", greatest(col("delta"), lit(0L)))
      .withColumn("loss", greatest(-col("delta"), lit(0L)))
      .withColumn("cnt14", count(lit(1)).over(w14))
      .withColumn("sum_gain", sum(col("gain")).over(w14))
      .withColumn("sum_loss", sum(col("loss")).over(w14))
      .filter(col("cnt14") === 14) // AFTER the frame sums — same frames
      .select(col("day").cast("string").as("day"), col("cents"),
        col("sum_gain"), col("sum_loss"),
        when(col("sum_gain") + col("sum_loss") > 0L,
          lit(100.0) * col("sum_gain").cast("double") /
            (col("sum_gain") + col("sum_loss")).cast("double"))
          .as("rsi"))
      .orderBy(col("day"))
  }

  override def catalog: Seq[Query] = Seq(
    Query("win_rsi", rsi, Some(
      """WITH daily AS MATERIALIZED (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |dd AS MATERIALIZED (
        |  SELECT day, cents,
        |    cents - LAG(cents, 1) OVER (ORDER BY day) AS delta
        |  FROM daily),
        |gl AS MATERIALIZED (
        |  SELECT day, cents,
        |    GREATEST(delta, 0) AS gain, GREATEST(-delta, 0) AS loss,
        |    COUNT(*) OVER (ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS cnt14
        |  FROM dd WHERE delta IS NOT NULL),
        |fr AS (
        |  SELECT day, cents, cnt14,
        |    CAST(SUM(gain) OVER (ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sum_gain,
        |    CAST(SUM(loss) OVER (ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sum_loss
        |  FROM gl)
        |SELECT CAST(day AS VARCHAR) AS day, cents, sum_gain, sum_loss,
        |  CASE WHEN sum_gain + sum_loss > 0 THEN
        |    100.0 * CAST(sum_gain AS DOUBLE) /
        |    CAST(sum_gain + sum_loss AS DOUBLE) END AS rsi
        |FROM fr WHERE cnt14 = 14 ORDER BY day""".stripMargin)),
    Query("win_drawdown", drawdown, Some(
      """WITH daily AS (
        |  SELECT c_mktsegment AS seg, CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(SUM(cents) AS BIGINT) AS total,
        |  CAST(COUNT(*) AS BIGINT) AS nd FROM daily GROUP BY 1),
        |m AS (
        |  SELECT d.seg, d.day, t.nd, t.nd * d.cents - t.total AS scaled
        |  FROM daily d JOIN tot t USING (seg)),
        |cu AS (SELECT seg, day, nd,
        |  SUM(scaled) OVER (PARTITION BY seg ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM m),
        |r AS (SELECT seg, nd, cum,
        |  MAX(cum) OVER (PARTITION BY seg ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM cu)
        |SELECT seg, CAST(MAX(nd) AS BIGINT) AS n_days,
        |  CAST(MAX(runmax - cum) AS BIGINT) AS max_dd_scaled,
        |  CAST(MAX(runmax - cum) AS DOUBLE) / CAST(MAX(nd) AS DOUBLE)
        |    AS max_dd_cents_mean_days
        |FROM r GROUP BY seg ORDER BY seg""".stripMargin)),
    Query("win_rolling_slope", rollingSlope, Some(
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, x, y,
        |    COUNT(*) OVER w AS cnt, SUM(x) OVER w AS sx,
        |    SUM(y) OVER w AS sy, SUM(x * y) OVER w AS sxy,
        |    SUM(x * x) OVER w AS sxx
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY x
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(x AS BIGINT) AS day_no, y AS n,
        |  CAST(cnt * sxy - sx * sy AS DOUBLE) /
        |    CAST(cnt * sxx - sx * sx AS DOUBLE) AS slope_7d
        |FROM m WHERE cnt = 7 ORDER BY event_type, day_no""".stripMargin)),
    Query("win_rolling_median", rollingMedian, Some(
      """SELECT user_id, event_id,
        |  quantile_cont(value, 0.5) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS med7
        |FROM events WHERE user_id % 97 = 0
        |ORDER BY user_id, event_id""".stripMargin)),
    Query("win_topk_per_group", topKPerGroup, Some(
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),
    Query("win_running_sum", runningSum, Some(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY o_custkey, orderdate, o_orderkey""".stripMargin)),
    Query("win_lag_lead", lagLead, Some(
      """SELECT event_id, user_id,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
        |  lead(event_type, 1) OVER w AS next_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |ORDER BY event_id""".stripMargin)),
    Query("win_ranks", ranks, Some(
      """SELECT p_brand, p_partkey, p_size,
        |  rank() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS rk,
        |  dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS drk,
        |  ntile(4) OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS quartile,
        |  percent_rank() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS pct_rk,
        |  cume_dist() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS cume
        |FROM part ORDER BY p_brand, p_partkey""".stripMargin)),
    Query("win_range_frame", rangeFrame, Some(
      """SELECT o_custkey, o_orderkey, day_no, COUNT(*) OVER (
        |    PARTITION BY o_custkey ORDER BY day_no
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_last_30d
        |FROM (SELECT o_custkey, o_orderkey,
        |        datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_no
        |      FROM orders) t
        |ORDER BY o_custkey, day_no, o_orderkey""".stripMargin)),
    Query("win_first_last", firstLast, Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(first_value(o_orderdate) OVER w AS DATE) AS first_date,
        |  CAST(last_value(o_orderdate) OVER w AS DATE) AS last_date,
        |  datediff('day', CAST(first_value(o_orderdate) OVER w AS DATE),
        |    CAST(last_value(o_orderdate) OVER w AS DATE)) AS span_days
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
  )
}
