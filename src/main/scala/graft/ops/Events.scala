package graft.ops

import graft.{OracleSafe, Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operator class, batch forms (SURVEY.md §2.10).
  *
  * Each windowing operator is registered as its oracle-checkable batch
  * twin; the true Structured Streaming runs (same expressions over
  * `readStream` + watermark) are demonstrated in StreamingSpec — DuckDB
  * can't stream, so the driver gate sees the batch form.
  *
  * Scale posture: tumbling/sliding windows are pure groupBy on a derived
  * key (map-side combine, one shuffle); sessionization is one shuffle on
  * user_id + a sorted window pass — the gaps-and-islands plan that holds at
  * any scale because state per key is a running counter, not a buffer. */
object Events extends QueryModule {
  import OracleSafe._

  /** Tumbling 1-hour windows per event type. `window()` start is emitted as
    * epoch µs (raw timestamps never survive the oracle, SURVEY §5.3). */
  def tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start_us"), col("event_type"))

  /** Sliding windows: 1 hour every 15 minutes (each event in 4 windows). */
  def sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("window_start_us"), col("n"))
      .orderBy(col("window_start_us"))

  /** Session windows (30-minute gap) per user via session_window. */
  def sessions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("first_us"),
        unix_micros(max(col("ts"))).as("last_us"))
      .select(col("user_id"), col("first_us"), col("last_us"), col("n_events"))
      .orderBy(col("user_id"), col("first_us"))

  /** DYNAMIC-gap session windows (Spark 4 `session_window(ts, gapExpr)`):
    * engagement events (click/view) time out after 30 min, everything else
    * after 1 h — per-event gap, so sessions are unions of overlapping
    * [ts, ts+gap) intervals. The oracle reproduces the merge with a
    * running MAX(us+gap) over preceding rows (ends are NOT monotone under
    * per-event gaps, so the fixed-gap lag() trick is insufficient — this
    * is the general interval-union sessionization). Same one-shuffle
    * gaps-and-islands scale shape as [[sessions]]. */
  def sessionsDynamic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"),
        when(col("event_type").isin("click", "view"), "30 minutes")
          .otherwise("1 hour")).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("first_us"),
        unix_micros(col("w.end")).as("session_end_us"), col("n_events"))
      .orderBy(col("user_id"), col("first_us"))

  /** Deterministic dedup: first event per (user, type) by (ts, event_id) —
    * the oracle-safe form of dropDuplicates (which keeps an arbitrary row). */
  def dedupFirstPerKey(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Daily funnel: per-day event volume and purchase rate. */
  def dailyFunnel(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", lit(1))).as("n_purchases"),
        count(when(col("event_type") === "view", lit(1))).as("n_views"))
      .withColumn("purchase_rate",
        col("n_purchases").cast("double") / col("n_events"))
      .orderBy(col("day"))

  /** Cohort retention: users are cohorted by first-activity day; the matrix
    * counts distinct users active at each day offset from their cohort. Two
    * aggregations, both keyed compatibly: the first groupBy and the join
    * both hash on user_id (one shuffle reused), the final groupBy shuffles
    * on the (cohort, offset) matrix — |days|² keys, tiny at any scale. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
    val firstDay = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(firstDay, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Inter-arrival time distribution (queueing analysis — "how bursty is
    * each stream"): per event type, the gaps between a user's
    * consecutive events of that type, with mean and DISCRETE p50/p90
    * located on the gap-seconds value grid (cum ≥ k selection — the
    * [[Aggs.mannWhitney]] grid-rank family again, never a per-group
    * buffer). Gaps are exact integer seconds; mean divides identical
    * BIGINTs. One (user,type) lag window + one grid aggregate. */
  def interArrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        expr("(us - prev) div 1000000").as("gap_s"))
    val grid = gaps.groupBy(col("event_type"), col("gap_s"))
      .agg(count(lit(1)).as("c"))
      .withColumn("bucket", expr("gap_s div 3600"))
    // bucket-localized cumulative (the Aggs.median2Pass trick): hourly
    // gap buckets carry broadcast base offsets, the per-second cumsum
    // partitions on (type, bucket) — a type's whole gap grid never
    // sorts in one task
    val bk = grid.groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("c")).as("bc"))
    val wB = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("event_type"), col("bucket"), col("base"))
    val wCum = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("gap_s")).rowsBetween(Window.unboundedPreceding, 0)
    // base is one row per (type, hour-bucket) — the gap range widens with
    // the corpus, so unhinted: AQE broadcasts while small.
    val cum = grid.join(base, Seq("event_type", "bucket"))
      .withColumn("cum", col("base") + sum(col("c")).over(wCum))
    val ns = grid.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(col("gap_s") * col("c")).as("sum_gap"))
      .withColumn("k50", expr("(n + 1) div 2"))
      .withColumn("k90", expr("(9 * n + 9) div 10"))
    def orderStat(k: Column, name: String): DataFrame =
      cum.join(ns, Seq("event_type"))
        .filter(col("cum") >= k)
        .groupBy(col("event_type")).agg(min(col("gap_s")).as(name))
    ns.join(orderStat(col("k50"), "p50_gap_s"), Seq("event_type"))
      .join(orderStat(col("k90"), "p90_gap_s"), Seq("event_type"))
      .select(col("event_type"), col("n").cast("long").as("n_gaps"),
        (col("sum_gap").cast("double") / col("n").cast("double"))
          .as("mean_gap_s"),
        col("p50_gap_s"), col("p90_gap_s"))
      .orderBy(col("event_type"))
  }

  /** TIME-TO-CONVERT distribution — the survival-curve table behind
    * "how long after signup do users buy": each signup maps to the
    * user's first purchase within 7 days (the same one-shuffle forward
    * as-of range window as [[attributionMulti]]), delays bucket into
    * hours, and the output carries per-bucket counts plus the cumulative
    * conversion rate against ALL signups (converted or not — the
    * denominator a survival curve needs). Integer-only until the two
    * rate divisions on identical BIGINTs. */
  def timeToConvert(s: SparkSession, d: String): DataFrame = {
    val wF = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(0L, 604800000000L)
    val tagged = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("conv_us",
        min(when(col("event_type") === "purchase", col("us"))).over(wF))
      .filter(col("event_type") === "signup")
    val total = tagged.agg(count(lit(1)).as("n_signups"))
    val hist = tagged.filter(col("conv_us").isNotNull)
      .select(expr("(conv_us - us) div 3600000000").as("delay_hours"))
      .groupBy(col("delay_hours")).agg(count(lit(1)).as("n_conversions"))
      .withColumn("dday", expr("delay_hours div 24"))
    // the delay grid is already bounded (≤168 hourly rows under the
    // 7-day window), but the cumsum still localizes on the day bucket —
    // broadcast day-base offsets + a window partitioned on (dday) — so
    // no unpartitioned window survives even if the horizon knob grows
    val bk = hist.groupBy(col("dday")).agg(sum(col("n_conversions")).as("bc"))
    val wB = Window.orderBy(col("dday"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("dday"), col("base"))
    val wCum = Window.partitionBy(col("dday")).orderBy(col("delay_hours"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.join(broadcast(base), Seq("dday")).crossJoin(broadcast(total))
      .withColumn("cum_conversions",
        col("base") + sum(col("n_conversions")).over(wCum))
      .select(col("delay_hours"), col("n_conversions"),
        col("cum_conversions").cast("long").as("cum_conversions"),
        (col("cum_conversions").cast("double") /
          col("n_signups").cast("double")).as("cum_rate"))
      .orderBy(col("delay_hours"))
  }

  /** Threshold-crossing alert counter — "how often did this metric jump
    * above its own average" (the scale-free alarm rule; a FIXED threshold
    * would silently change meaning across data volumes): per event type,
    * daily counts vs the type's own mean daily volume, counting upward
    * crossings (today above, yesterday at-or-below). The mean divides
    * identical BIGINTs, the lag runs over the reduced daily grid, and the
    * comparisons are int-vs-identical-double — exact. Complements
    * [[anomaly]] (z-score outliers) with the alert-EDGE semantics
    * monitoring systems actually page on. */
  def alertCrossings(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val avg_ = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("tot"), count(lit(1)).as("nd"))
      .select(col("event_type"),
        (col("tot").cast("double") / col("nd").cast("double")).as("avg_n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.join(broadcast(avg_), Seq("event_type"))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("crossing",
        when(col("prev_n").isNotNull && col("n") > col("avg_n") &&
          col("prev_n") <= col("avg_n"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(max(col("avg_n")).as("avg_daily"),
        sum(when(col("n") > col("avg_n"), 1L).otherwise(0L)).cast("long")
          .as("n_days_above"),
        sum(col("crossing")).cast("long").as("n_crossings"))
      .orderBy(col("event_type"))
  }

  /** GROWTH ACCOUNTING (the new / retained / resurrected / churned
    * quad every growth team reports): per day, users seen for the first
    * time, users also active the previous day, users returning after a
    * gap, and yesterday's users who went silent. Everything derives from
    * the DISTINCT (user, day) pair table — |users|×|days| rows, the same
    * dedup-first posture as [[rollingActives]] — via one first-day
    * aggregate, one self-join on (user, day−1), and one anti-join for
    * churn. The three classes partition today's actives (new ∩ retained
    * = ∅ since a first-day user has no yesterday), which the oracle's
    * independent CASE arithmetic confirms. Integer-only. */
  def growthAccounting(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val f = p.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val y = p.select(col("user_id"), date_add(col("day"), 1).as("day"),
      lit(1).as("was_yesterday"))
    val today = p.join(f, "user_id")
      .join(y, Seq("user_id", "day"), "left")
      .withColumn("is_new", when(col("day") === col("first_day"), 1L).otherwise(0L))
      .withColumn("is_retained",
        when(col("was_yesterday").isNotNull && col("day") =!= col("first_day"),
          1L).otherwise(0L))
      .withColumn("is_resurrected",
        when(col("was_yesterday").isNull && col("day") =!= col("first_day"),
          1L).otherwise(0L))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(col("is_new")).cast("long").as("n_new"),
        sum(col("is_retained")).cast("long").as("n_retained"),
        sum(col("is_resurrected")).cast("long").as("n_resurrected"))
    val churned = y.join(p, Seq("user_id", "day"), "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    today.join(churned, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** Pareto / Lorenz activity concentration — "what share of events do
    * the top-decile users generate": users ranked by event count into 10
    * integer deciles, per-decile user and event counts, share, and
    * cumulative share. The global rank NEVER runs as one window: it is
    * the [[Aggs.median2Pass]] histogram-ranking trick applied twice —
    * (1) a DESC prefix sum over the distinct activity-count grid (itself
    * localized on a coarse count bucket) gives each count value its
    * global rank base; (2) the user_id tie-break localizes the same way
    * on a user_id range bucket, so the only row_number anywhere
    * partitions on (n, ub) and max sort state is one (count, id-range)
    * cell. rk = base(n) + base(n,ub) + row_number is the identical
    * integer, so deciles — and the oracle hash — are unchanged. Shares
    * divide identical BIGINTs and the cumulative window sums longs over
    * ≤10 post-aggregate rows before ONE division each. */
  def paretoShare(s: SparkSession, d: String): DataFrame = {
    val uc = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = uc.agg(sum(col("n")).as("t_events"),
      count(lit(1)).as("t_users"))
    // pass 1: how many users rank strictly ABOVE each activity count n
    val grid = uc.groupBy(col("n")).agg(count(lit(1)).as("c"))
      .withColumn("nb", expr("n div 64"))
    val nbk = grid.groupBy(col("nb")).agg(sum(col("c")).as("bc"))
    val wNb = Window.orderBy(col("nb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val nbase = nbk
      .withColumn("nbase", coalesce(sum(col("bc")).over(wNb), lit(0L)))
      .select(col("nb"), col("nbase"))
    val wG = Window.partitionBy(col("nb")).orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // nbase is one row per count-bucket (activity range widens with the
    // corpus) — unhinted, AQE decides.
    val gBase = grid.join(nbase, Seq("nb"))
      .withColumn("cb", col("nbase") + coalesce(sum(col("c")).over(wG), lit(0L)))
      .select(col("n"), col("cb"))
    // pass 2: tie-break rank among equal counts, localized on a user_id
    // range bucket (ub is monotone in user_id, so (ub, user_id) order
    // equals user_id order)
    val ucb = uc.withColumn("ub", expr("user_id div 4096"))
    val bgrid = ucb.groupBy(col("n"), col("ub")).agg(count(lit(1)).as("uc"))
    val wUb = Window.partitionBy(col("n")).orderBy(col("ub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ubase = bgrid
      .withColumn("ubase", coalesce(sum(col("uc")).over(wUb), lit(0L)))
      .select(col("n"), col("ub"), col("ubase"))
    val wIn = Window.partitionBy(col("n"), col("ub")).orderBy(col("user_id"))
    val ranked = ucb
      // gBase is one row per distinct activity count (corpus-widening) —
      // unhinted, AQE decides.
      .join(gBase, Seq("n"))
      .join(ubase, Seq("n", "ub"))
      .crossJoin(broadcast(tot))
      .withColumn("rk", col("cb") + col("ubase") + row_number().over(wIn))
      .withColumn("decile",
        expr("(rk * 10 + t_users - 1) div t_users").cast("int"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n")).cast("long").as("n_events"),
        max(col("t_events")).as("t_events"))
      .withColumn("share",
        col("n_events").cast("double") / col("t_events").cast("double"))
      .withColumn("cum_share",
        sum(col("n_events")).over(wCum).cast("double") /
          col("t_events").cast("double"))
      .select(col("decile"), col("n_users"), col("n_events"), col("share"),
        col("cum_share"))
      .orderBy(col("decile"))
  }

  /** NEGATIVE-pattern CEP ("A then B with NO C between") — the absence
    * constraint [[sequenceMatch]]'s positive chain can't express, e.g.
    * "signed up and purchased without hitting an error in between". Two
    * running-max windows over ONE user_id exchange carry the most recent
    * signup/error timestamps to each purchase; the purchase is clean iff
    * a signup exists and no error postdates it. Pure window algebra on
    * integer µs — no per-row state machine, no struct folds (the DuckDB
    * grouped-fold hazard), exact cross-engine. */
  def sequenceNegation(s: SparkSession, d: String): DataFrame = {
    val wB = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(Window.unboundedPreceding, 0L)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("last_signup",
        max(when(col("event_type") === "signup", col("us"))).over(wB))
      .withColumn("last_error",
        max(when(col("event_type") === "error", col("us"))).over(wB))
      .filter(col("event_type") === "purchase")
      .withColumn("clean",
        when(col("last_signup").isNotNull &&
          (col("last_error").isNull ||
            col("last_error") < col("last_signup")), 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("clean")).cast("long").as("n_clean"))
      .orderBy(col("user_id"))
  }

  /** Velocity / burst flagging (the rate-anomaly screen behind fraud and
    * bot detection): a purchase is flagged when ≥ 3 events of the same
    * user land in the trailing hour including itself. One range window
    * over the shared user_id exchange; integer counts only. */
  def velocityFlags(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("n_1h") >= 3, 1L).otherwise(0L)).cast("long")
          .as("n_flagged"),
        max(col("n_1h")).as("max_burst"))
      .filter(col("n_flagged") > 0)
      .orderBy(col("user_id"))
  }

  /** Cohort LTV triangle — the revenue twin of [[retention]]'s user
    * counts: per (acquisition cohort, age-in-days), purchase revenue,
    * buyers, cumulative revenue, and LTV per acquired user. Revenue is
    * exact integer cents (floor(x·100+0.5)); the cumulative window runs
    * over the REDUCED |cohorts|×|ages| triangle, never raw events (the
    * same window-on-grid posture PlanAuditSpec pins for rel_mom_growth);
    * LTV divides identical BIGINTs, so the doubles agree bit-exactly.
    * Scale: first-touch is one user_id aggregate; the triangle join
    * broadcasts per-cohort sizes. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"),
        col("event_type"), col("value"))
    val firstDay = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val sizes = firstDay.groupBy(col("cohort_day"))
      .agg(countDistinct(col("user_id")).as("cohort_n"))
    val tri = e.filter(col("event_type") === "purchase")
      .join(firstDay, "user_id")
      .withColumn("age", datediff(col("day"), col("cohort_day")).cast("long"))
      .groupBy(col("cohort_day"), col("age"))
      .agg(sum(floor(col("value") * 100.0 + 0.5).cast("long")).cast("long")
        .as("rev_cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val wCum = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
    tri.join(broadcast(sizes), Seq("cohort_day"))
      .withColumn("cum_cents", sum(col("rev_cents")).over(wCum).cast("long"))
      .select(col("cohort_day"), col("age"), col("rev_cents"),
        col("n_buyers"), col("cohort_n"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("cohort_n").cast("double"))
          .as("ltv_cents_per_user"))
      .orderBy(col("cohort_day"), col("age"))
  }

  /** Linear-interpolation resampling — the smooth twin of [[gapfill]]'s
    * forward fill: missing hours on the (event_type × hour) grid take
    * prev + (next − prev)·(h − ph)/(nh − ph) between the surrounding
    * observed hourly means. The bracket values come from two IGNORE-NULLS
    * windows over the grid (|types|×|hours| rows — event volume only hits
    * the hourly aggregate), and the interpolation is pure IEEE arithmetic
    * on engine-identical inputs (hour indexes are exact integers, hourly
    * means exact-decimal), so no rounding is needed. Ends beyond the
    * observed bracket stay NULL — interpolation, not extrapolation. */
  def interpolate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("h"), col("value"))
    val hourly = ev.groupBy(col("h")).agg(davg(col("value")).as("v"))
    val hours = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val wB = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.orderBy(col("h"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    hours.join(hourly, Seq("h"), "left")
      .withColumn("ph", last(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wB))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wB))
      .withColumn("nh", first(when(col("v").isNotNull, col("h")), ignoreNulls = true).over(wF))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wF))
      .select(col("h"), col("v").as("observed"),
        when(col("v").isNotNull, col("v"))
          .when(col("ph").isNotNull && col("nh").isNotNull,
            col("pv") + (col("nv") - col("pv")) *
              ((col("h") - col("ph")).cast("double")
                / (col("nh") - col("ph")).cast("double")))
          .as("v_interp"))
      .orderBy(col("h"))
  }

  /** Z-score anomaly detection per event type: flag events whose value sits
    * more than 2.5σ from the type mean. Moments are exact-decimal sums
    * (add-order-independent), so μ/σ are bit-identical across engines and
    * the per-event z is pure IEEE arithmetic on agreed inputs. The stats
    * side is |types| rows and broadcasts — the fact side is never
    * shuffled, so the second pass stays map-only at any scale. */
  def anomaly(s: SparkSession, d: String): DataFrame = {
    val sx = d2d(sum(col("value").cast("decimal(18,4)")))
    // decimal(18,4) matches the oracle's DECIMAL(19,4) headroom: a value
    // ≥ 1e8 would overflow a (12,4) cast to NULL on the Spark side only
    // (non-ANSI), silently skewing sigma; the (37,8) product still fits
    // precision 38.
    val sx2 = d2d(sum(col("value").cast("decimal(18,4)")
        * col("value").cast("decimal(18,4)")))
    val stats = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sx.as("sum_x"), sx2.as("sum_x2"))
      .select(col("event_type"),
        (col("sum_x") / col("n")).as("mu"),
        sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n"))
          / (col("n") - 1)).as("sigma"))
    Tables.events(s, d)
      .join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"),
        col("mu"), col("sigma"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Hourly resample + gap fill: build the complete (event_type × hour)
    * grid over the observed span, left-join hourly aggregates, zero-fill
    * counts, forward-fill the last observed hourly sum. The grid is
    * |types|×|hours| rows — independent of event volume — so only the
    * hourly aggregate shuffles the full data; the fill is one bounded
    * window per type. Hours are emitted as strings (raw timestamps never
    * survive the oracle, SURVEY §5.3). */
  def gapfill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        col("value"))
    val hourly = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
    val hours = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("interval 1 hour"))).as("h"))
    val grid = ev.select(col("event_type")).distinct().crossJoin(hours)
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("v"), lit(0.0)).as("v"),
        coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0.0))
          .as("v_ffill"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Per-session event-type path ("user journey" extraction): sessionize
    * by 30-min inactivity — same boundaries as `ev_sessions`, but via the
    * explicit gap-flag + running-sum window so each event keeps its
    * session ordinal — then fold every session into its ordered
    * `view>cart>purchase` chain. Path order is total ((µs, event_id)), so
    * the string is deterministic; `collect_list` order never matters
    * because the structs are sorted inside the row. One shuffle on
    * user_id; both windows and the final groupBy share it. Per-session
    * state is one path string — bounded by session length, not history. */
  def sessionPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(s, d)
      .withColumn("new_session",
        when(gap.isNull || gap >= 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(unix_micros(col("ts"))).as("first_us"),
        count(lit(1)).as("n_events"),
        array_join(transform(array_sort(collect_list(struct(
          unix_micros(col("ts")).as("us"), col("event_id"),
          col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .select(col("user_id"), col("session_id"), col("first_us"),
        col("n_events"), col("path"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Path-level funnel analytics over the sessionized stream: count
    * sessions per distinct journey string and flag which journeys convert
    * (contain view → … → purchase in order — a regex over the path, no
    * per-event state machine; converting journeys sort first). Rides the
    * same one-shuffle
    * sessionization as `ev_session_paths`; the path table it aggregates is
    * |sessions| rows, orders of magnitude smaller than events. */
  def pathFunnel(s: SparkSession, d: String): DataFrame =
    sessionPaths(s, d)
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("converted",
        col("path").rlike("view.*purchase").cast("int"))
      .orderBy(col("converted").desc, col("n_sessions").desc, col("path"))
      .limit(25)

  /** Centered moving average (±3 events) of value per user — the smoothing
    * window every metrics pipeline needs, in the portable exact-decimal
    * form: the frame SUM is a decimal (add-order-free), the mean is one
    * IEEE division by the frame COUNT. ROWS frame over the (µs, event_id)
    * total order, so ties are deterministic. One shuffle on user_id. */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id")).rowsBetween(-3, 3)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("event_id"), col("us"),
        count(lit(1)).over(w).as("n_frame"),
        (d2d(sum(col("value").cast("decimal(18,4)")).over(w)) /
          count(lit(1)).over(w)).as("ma"))
      .orderBy(col("event_id"))
  }

  /** Exponentially-weighted sum over a bounded 8-event lookback
    * (half-life = 1 event, α = 1/2). The true infinite-history EWMA is a
    * sequential recursion Spark can't parallelize; truncating at 8 terms
    * bounds the error by 2⁻⁸ of one observation while keeping the operator
    * a fixed lag-chain — 8 `lag`s over ONE window spec share a single sort,
    * and every coefficient is a power of two, so each product is EXACT in
    * IEEE and the fixed left-to-right add order is bit-identical across
    * engines (no decimal scaffolding needed). One shuffle on user_id. */
  def ewma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val terms = (0 to 7).map(k =>
      coalesce(lag(col("value"), k).over(w), lit(0.0)) * lit(math.pow(0.5, k)))
    Tables.events(s, d)
      .filter(col("user_id") % 97 === 0)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .select(col("user_id"), col("event_id"),
        terms.reduce(_ + _).as("ewsum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Per-entity rate capping: keep at most 3 events per (user, day) by
    * arrival order, report what each capped group lost — the ingestion
    * throttle / per-entity quota every event pipeline runs (and the
    * per-user twin of [[Corpus.sourceQuota]]'s per-source cap). One rank
    * window and the aggregate share the same (user, day)-keyed exchange —
    * single shuffle, deterministic (µs, event_id) arrival order. */
  def capPerEntity(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("day_id", expr("us div 86400000000"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"), col("day_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rn") > 3, 1).otherwise(0)).as("n_dropped"))
      .filter(col("n_events") > 3)
      .orderBy(col("user_id"), col("day_id"))
  }

  /** A/B experiment readout: users split by `user_id % 2`, conversion per
    * goal = "has an event of that type with value > 150", two-proportion
    * pooled z-score per goal. Counting is exact-integer; the rates and the
    * z statistic are a fixed dag of IEEE correctly-rounded double ops
    * (÷, ×, −, sqrt) over those integers, written with identical
    * association in the oracle — bit-identical without rounding. Per-goal
    * distinct + two tiny aggregates (one broadcast) — scan-bound at
    * 100 TB. */
  def abTest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val conv = ev.filter(col("value") > 150)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("variant", col("user_id") % 2)
    val goals = conv.groupBy(col("event_type"))
      .agg(count(when(col("variant") === 0, 1)).as("conv_a"),
        count(when(col("variant") === 1, 1)).as("conv_b"))
    val pop = ev.select(col("user_id")).distinct()
      .withColumn("variant", col("user_id") % 2)
      .agg(count(when(col("variant") === 0, 1)).as("n_a"),
        count(when(col("variant") === 1, 1)).as("n_b"))
    val pA = col("conv_a").cast("double") / col("n_a").cast("double")
    val pB = col("conv_b").cast("double") / col("n_b").cast("double")
    val pPool = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt((pPool * (lit(1.0) - pPool)) *
      ((lit(1.0) / col("n_a").cast("double")) +
        (lit(1.0) / col("n_b").cast("double"))))
    goals.crossJoin(broadcast(pop))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        pA.as("rate_a"), pB.as("rate_b"),
        ((pB - pA) / se).as("z_score"))
      .orderBy(col("event_type"))
  }

  /** Last-touch revenue attribution: each purchase's value is credited to
    * the channel (= event type) of the user's latest preceding
    * non-purchase event within 24 h. The preceding signal is recovered
    * with the as-of union trick ([[Joins.asofJoin]] shape): one backward
    * RANGE frame carrying max of a zero-padded "us|channel" string —
    * string max ≡ (us, channel) lexicographic max on both engines, so the
    * tie rule (same-µs signals → lexicographically larger channel) is
    * explicit and portable. One user_id shuffle, then a tiny channel
    * aggregate; revenue summed in integer cents. */
  def attribution(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val wB = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-86400000000L, 0L)
    val tagged = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"), us.as("us"))
      .withColumn("sig",
        when(col("event_type") =!= "purchase",
          concat(lpad(col("us").cast("string"), 20, "0"), lit("|"),
            col("event_type"))))
      .withColumn("last_sig", max(col("sig")).over(wB))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        coalesce(expr("split_part(last_sig, '|', 2)"), lit("none")))
    tagged.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).cast("long")
          .as("revenue_cents"))
      .orderBy(col("channel"))
  }

  /** Longest daily activity streak per user — the gaps-and-islands
    * pattern: distinct active days, island id = day_no − row_number
    * (consecutive days share it), longest island per user. Integer-only,
    * one user_id shuffle for the ordering window, bounded per-key state.
    * Top-25 streaks (length desc, user asc) keep the output stable. */
  def streaks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_no"))
    Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day_no"))
      .distinct()
      .withColumn("island", col("day_no") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_days"),
        min(col("day_no")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(max(struct(col("streak_days"), col("start_day"))).as("best"))
      .select(col("user_id"), col("best.streak_days").as("streak_days"),
        col("best.start_day").as("start_day"))
      .orderBy(col("streak_days").desc, col("user_id"))
      .limit(25)
      .orderBy(col("streak_days").desc, col("user_id"))
  }

  /** Time-constrained conversion funnel: a user "enters" at their FIRST
    * view, and converts iff a purchase lands within the next hour —
    * the windowed-conversion semantics ad/product analytics actually use
    * (the path funnel has no deadline; this one does). Per-user entry is
    * one groupBy(user); the deadline check is a keyed join of entries to
    * that user's purchases with the interval predicate evaluated
    * join-side, folded by max() so multiple qualifying purchases count
    * once. Both shuffles hash on user_id; nothing scans pairs across
    * users. Daily rollup is exact integers + one IEEE division. */
  def funnelTimebound(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val entry = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("fv"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"))
    entry.join(pur, Seq("user_id"), "left")
      .withColumn("ok",
        col("pts") > col("fv") &&
          col("pts") <= col("fv") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("user_id"), col("fv"))
      .agg(max(when(col("ok"), 1).otherwise(0)).as("conv"))
      .groupBy(col("fv").cast("date").as("day"))
      .agg(count(lit(1)).as("n_entered"),
        sum(col("conv")).cast("long").as("n_converted"))
      .withColumn("conv_rate",
        col("n_converted").cast("double") / col("n_entered").cast("double"))
      .orderBy(col("day"))
  }

  /** First-order Markov transition matrix over per-user event streams —
    * the "what do users do next" model behind journey analysis and
    * next-event prediction. One lead per user (hash shuffle on user_id,
    * the sessionization exchange), pair counts in a partial+final
    * aggregate, and row-normalization by a window over the TINY
    * (|types|²-row) transition table, never the events. Counts are exact
    * integers; prob is one IEEE division. */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val pairs = Tables.events(s, d)
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy(col("cur"))
    pairs
      .withColumn("prob",
        col("n").cast("double") / sum(col("n")).over(wc).cast("double"))
      .orderBy(col("cur"), col("nxt"))
  }

  /** Churn report: a user has churned if their last event is more than 7
    * days before the corpus end. Per-user last-activity from one
    * aggregate; the corpus end enters the plan as a broadcast scalar
    * (crossJoin(broadcast(agg)) — never a driver-side collect); cohorts
    * roll up by first-seen date. Integer micros arithmetic end to end,
    * one IEEE division for the rate. */
  def churn(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val per = ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val end = ev.agg(max(col("us")).as("end_us"))
    per.crossJoin(broadcast(end))
      .withColumn("churned",
        (col("end_us") - col("last_us") > 7L * 86400L * 1000000L).cast("int"))
      .groupBy(expr("to_date(timestamp_micros(first_us))").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("churned")).cast("long").as("n_churned"))
      .withColumn("churn_rate",
        col("n_churned").cast("double") / col("n_users").cast("double"))
      .orderBy(col("cohort_day"))
  }

  /** Ordered-sequence pattern match WITH DEADLINE (CEP / MATCH_RECOGNIZE
    * lite): how far each user gets through view → click → purchase IN
    * ORDER with the whole sequence inside 2 hours of the anchoring view.
    * Semantics: every view (re)anchors a fresh attempt (last-view
    * anchoring — the greedy rule real CEP engines call "skip to next
    * row"); clicks/purchases advance only in order and only within the
    * deadline; a completed match is terminal. The state machine is a
    * bounded left-to-right fold of (stage, anchor) over the user's
    * time-ordered events — the same sorted-collect fold contract as the
    * argmax/quality aggregates; one user_id shuffle. Rollup: users per
    * furthest stage reached. */
  def sequenceMatch(s: SparkSession, d: String): DataFrame = {
    val code = when(col("event_type") === "view", 1)
      .when(col("event_type") === "click", 2)
      .when(col("event_type") === "purchase", 3)
      .otherwise(0)
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), code.as("code"))
      .groupBy(col("user_id"))
      .agg(expr(
        """aggregate(
          |  transform(
          |    array_sort(collect_list(struct(us, event_id, code))),
          |    e -> named_struct('stage', e.code, 'anchor', e.us)),
          |  named_struct('stage', 0, 'anchor', CAST(0 AS BIGINT), 'best', 0),
          |  (st, x) -> CASE
          |    WHEN st.best = 3 THEN st
          |    WHEN x.stage = 1
          |      THEN named_struct('stage', 1, 'anchor', x.anchor,
          |        'best', greatest(st.best, 1))
          |    WHEN x.stage = 2 AND st.stage = 1
          |        AND x.anchor - st.anchor <= 7200000000
          |      THEN named_struct('stage', 2, 'anchor', st.anchor,
          |        'best', greatest(st.best, 2))
          |    WHEN x.stage = 3 AND st.stage = 2
          |        AND x.anchor - st.anchor <= 7200000000
          |      THEN named_struct('stage', 3, 'anchor', st.anchor, 'best', 3)
          |    ELSE st END).best""".stripMargin).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  /** Per-day event-type diversity: Shannon entropy and Gini impurity of
    * the type mix — the drift signals a pipeline monitors (a day whose
    * entropy collapses is a day one producer flooded the stream). The
    * per-(day, type) counts reduce first; entropy sums the ≤5 type terms
    * in a FIXED type order (deterministic add order), and ln goes
    * through the round(6) portability rule. */
  def typeEntropy(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivot = Tables.events(s, d)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("n"),
        types.map(t => count(when(col("event_type") === t, 1))
          .cast("double").as(s"n_$t")): _*)
    val terms = types.map { t =>
      val p = col(s"n_$t") / col("n")
      when(col(s"n_$t") > 0, -p * log(p)).otherwise(0.0)
    }
    val gini = lit(1.0) - types.map { t =>
      val p = col(s"n_$t") / col("n")
      p * p
    }.reduce(_ + _)
    pivot.select(col("day"), col("n").cast("long").as("n_events"),
      round(terms.reduce(_ + _), 6).as("entropy"),
      round(gini, 6).as("gini"))
      .orderBy(col("day"))
  }

  /** Rolling distinct actives — DAU / WAU(7) / MAU(28) per day, the
    * engagement ratios every product dashboard tracks. COUNT DISTINCT
    * over a sliding window can't be windowed directly; the scalable form
    * dedups first (events → distinct (day, user), one shuffle, |days|·
    * |users| max) and then range-joins the small day grid to the pair
    * table — the window never touches raw events. Ratios are one IEEE
    * division each. */
  def rollingActives(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.events(s, d)
      .select(col("ts").cast("date").as("day"), col("user_id"))
      .distinct()
    val days = pairs.select(col("day")).distinct()
      .select(col("day").as("d"))
    days.join(pairs,
        datediff(col("d"), col("day")).between(0, 27))
      .groupBy(col("d"))
      .agg(
        countDistinct(when(datediff(col("d"), col("day")) === 0,
          col("user_id"))).as("dau"),
        countDistinct(when(datediff(col("d"), col("day")) <= 6,
          col("user_id"))).as("wau"),
        countDistinct(col("user_id")).as("mau"))
      .select(col("d").as("day"), col("dau"), col("wau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double"))
          .as("dau_mau"),
        (col("wau").cast("double") / col("mau").cast("double"))
          .as("wau_mau"))
      .orderBy(col("day"))
  }

  /** Day-of-week seasonality profile — the seasonal-index table behind
    * capacity planning and anomaly baselines: per weekday, event volume,
    * active days, events/day, and the seasonal index
    * n·D / (T·n_days) (= per-day rate vs the all-week rate). Every input
    * is an exact integer (counts, distinct-day counts); the two divisions
    * run on identical operands in both engines, so the doubles are
    * bit-equal — no float accumulation anywhere. Scale: one partial+final
    * aggregate to a ≤7-row grid + a broadcast 1-row total. */
  def seasonality(s: SparkSession, d: String): DataFrame = {
    val byDow = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"))
      .groupBy(dayofweek(col("day")).as("dow"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("day")).as("n_days"))
    val tot = byDow.agg(sum(col("n_events")).as("t_events"),
      sum(col("n_days")).as("t_days"))
    byDow.crossJoin(broadcast(tot))
      .select(col("dow").cast("int").as("dow"), col("n_events"), col("n_days"),
        (col("n_events").cast("double") / col("n_days").cast("double"))
          .as("events_per_day"),
        ((col("n_events") * col("t_days")).cast("double") /
          (col("t_events") * col("n_days")).cast("double"))
          .as("seasonal_index"))
      .orderBy(col("dow"))
  }

  /** Seasonal-naive forecast backtest — the eval loop behind "is last
    * week a good predictor": forecast each day's per-type volume with the
    * count 7 days earlier (and a naive-1 lag baseline), scored by MAE and
    * bias. The forecast join is on (type, day−offset) — exact under gaps,
    * unlike a row-offset lag — and all errors are integer until the final
    * two divisions on identical operands. Scale: daily grid is
    * |types|×|days| rows; both models are self-joins of that reduced grid,
    * never of raw events. */
  def forecastEval(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    def eval(offset: Int, name: String): DataFrame = {
      val fc = daily.select(col("event_type"),
        date_add(col("day"), offset).as("day"), col("n").as("fc"))
      daily.join(fc, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("n") - col("fc"))).as("sae"),
          sum(col("n") - col("fc")).as("se"))
        .select(col("event_type"), lit(name).as("model"), col("n_days"),
          (col("sae").cast("double") / col("n_days").cast("double")).as("mae"),
          (col("se").cast("double") / col("n_days").cast("double")).as("bias"))
    }
    eval(7, "seasonal_naive_7").unionByName(eval(1, "naive_1"))
      .orderBy(col("event_type"), col("model"))
  }

  /** MULTI-touch attribution (linear + time-decay) — the credit-splitting
    * twin of the last-touch [[attribution]]: every click/view maps to the
    * user's NEXT purchase within 7 days (forward as-of via one range
    * window, same single user_id shuffle as [[asofForwardJoin]]'s
    * pattern), each conversion splits 1,000,000 micro-credits equally
    * across its touches (linear) and halves credit per day of touch age
    * (time-decay) — both INTEGER division, so credit sums are exact
    * BIGINTs, no float accumulation for the oracle to disagree on (a
    * production report would divide by 1e6 at render time). Scale: one
    * range window + one conversion-keyed window; touches per conversion
    * are bounded by user activity in 7 days. */
  def attributionMulti(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val wF = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(0L, 604800000000L)
    val tagged = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"), us.as("us"))
      .withColumn("psig",
        when(col("event_type") === "purchase",
          concat(lpad(col("us").cast("string"), 20, "0"), lit("|"),
            col("event_id").cast("string"))))
      .withColumn("conv_sig", min(col("psig")).over(wF))
    val touches = tagged
      .filter(col("event_type").isin("click", "view") &&
        col("conv_sig").isNotNull)
      .withColumn("conv_us", expr("split_part(conv_sig, '|', 1)").cast("long"))
      .withColumn("conv_id", expr("split_part(conv_sig, '|', 2)").cast("long"))
    val wC = Window.partitionBy(col("conv_id"))
    touches
      .withColumn("nt", count(lit(1)).over(wC))
      .withColumn("age_days", expr("(conv_us - us) div 86400000000"))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("conv_id")).as("n_conversions"),
        sum(expr("1000000L div nt")).cast("long").as("linear_credit_micro"),
        sum(expr("1000000L div shiftleft(1L, CAST(age_days AS INT))"))
          .cast("long").as("decay_credit_micro"))
      .orderBy(col("channel"))
  }

  /** Exponentially-weighted moving average of hourly event counts, per
    * event type — the smoothing primitive under alerting baselines and
    * trend dashboards. α = ½ with a 30-step truncation makes every weight
    * a DYADIC rational (2⁻¹ … 2⁻³⁰), so the whole smoothed value is one
    * exact BIGINT: each hourly count explodes into its 30 future target
    * hours carrying count·2^(29−k) (k = lag), the per-target integer sum
    * is order-free, and the single readout division by 2³⁰ is exact in
    * IEEE (counts ≤ 2²³ keep the scaled sum under 53 bits). No recursion,
    * no float accumulation, no rounding — the recurrence s_t = (x_t +
    * s_{t−1})/2 is unrolled into a bounded fan-out join, which is the
    * scale-right form: 30× the GRID size (a knob), partial+final summed,
    * never a sequential scan. Truncation error vs the infinite recurrence
    * is < 2⁻³⁰·max(x) — below the emitted precision. */
  def ewmaGrid(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val hmax = counts.agg(max(col("h")).as("hmax"))
    counts
      .select(col("event_type"), col("h"), col("cnt"),
        explode(sequence(lit(0), lit(29))).as("k"))
      .select(col("event_type"), (col("h") + col("k")).as("t"),
        (col("cnt") * expr("shiftleft(cast(1 as bigint), 29 - k)")).as("term"),
        when(col("k") === 0, col("cnt")).otherwise(0L).as("x0"))
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("term")).as("scaled"), sum(col("x0")).as("x"))
      .join(broadcast(hmax), col("t") <= col("hmax"))
      .select(col("event_type"), col("t"), col("x"),
        (col("scaled").cast("double") / 1073741824.0).as("ewma"))
      .orderBy(col("event_type"), col("t"))
  }

  /** CUSUM change-point detection per event type: the classic upper CUSUM
    * recurrence c_t = max(0, c_{t−1} + x_t − k) over the hourly count
    * grid, with k the type's own mean rate — the drift monitor that flags
    * WHEN a stream's rate broke upward, not just that it did. The
    * recurrence is inherently sequential, so it runs as ONE bounded fold
    * over the sorted (≤ observation-window) hourly grid per type —
    * per-type state is a 3-field struct, the corpus only ever passes
    * through the hourly aggregate. Everything is exact integers: counts
    * are scaled ×1000 and k is milli-frozen, so both engines fold
    * identical BIGINTs. Reports the max drift and the first hour attaining
    * it. */
  def cusumDrift(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("x"))
    val ref = counts.groupBy(col("event_type"))
      .agg(floor(lit(1000.0) * sum(col("x")).cast("double") /
          count(lit(1)).cast("double")).cast("long").as("k_milli"),
        count(lit(1)).as("n_hours"))
    counts.join(broadcast(ref), Seq("event_type"))
      .groupBy(col("event_type"), col("k_milli"), col("n_hours"))
      .agg(expr(
        """aggregate(
          |  array_sort(collect_list(struct(h, x))),
          |  named_struct('c', CAST(0 AS BIGINT), 'cmax', CAST(0 AS BIGINT),
          |    'hmax', CAST(-1 AS BIGINT)),
          |  (st, e) -> named_struct(
          |    'c', greatest(CAST(0 AS BIGINT), st.c + 1000 * e.x - k_milli),
          |    'cmax', greatest(st.cmax,
          |      greatest(CAST(0 AS BIGINT), st.c + 1000 * e.x - k_milli)),
          |    'hmax', CASE WHEN
          |        greatest(CAST(0 AS BIGINT), st.c + 1000 * e.x - k_milli)
          |          > st.cmax
          |      THEN e.h ELSE st.hmax END))""".stripMargin).as("st"))
      .select(col("event_type"), col("k_milli"), col("n_hours"),
        col("st.cmax").as("cusum_max"), col("st.hmax").as("h_at_max"))
      .orderBy(col("event_type"))
  }

  /** Wald's SPRT (sequential probability ratio test) on the daily
    * conversion stream — the sequential A/B readout that DECIDES EARLY:
    * test H1 "purchase rate = 0.15" against H0 "= 0.10" (α = β = 0.05) by
    * accumulating the per-day log-likelihood ratio and stopping at the
    * Wald bounds. Every event is a Bernoulli trial (success = purchase);
    * the per-trial LLR increments and the bounds are LITERAL micro-nat
    * integers (ln frozen at design time — zero query-time
    * transcendentals), so the running statistic is an exact BIGINT
    * prefix sum over the bounded daily grid. Emits the trajectory, the
    * per-day verdict, and flags the FIRST crossing day. */
  def sprt(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // floor(1e6·ln(.15/.10)), floor(1e6·ln(.85/.90)), Wald bounds
    // floor(1e6·ln(.95/.05)) / floor(1e6·ln(.05/.95)).
    val (aMu, bMu, up, lo) = (405465L, -57159L, 2944438L, -2944439L)
    val daily = Tables.events(s, d)
      .filter(expr("user_id % 2") === 1L) // the treatment arm (% matches the oracle for any id sign)
      .select(to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("conv")).as("n_conv"))
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wPrev = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("llr_micro", sum(
        col("n_conv") * aMu + (col("n_events") - col("n_conv")) * bMu)
        .over(wRun))
      .withColumn("verdict",
        when(col("llr_micro") >= up, "accept_h1")
          .when(col("llr_micro") <= lo, "accept_h0")
          .otherwise("continue"))
      .withColumn("first_decision",
        when(col("verdict") =!= "continue" &&
          coalesce(sum(when(col("llr_micro") >= up ||
              col("llr_micro") <= lo, 1L).otherwise(0L)).over(wPrev),
            lit(0L)) === 0L, 1L).otherwise(0L))
      .select(col("day").cast("string").as("day"), col("n_events"),
        col("n_conv"), col("llr_micro"), col("verdict"),
        col("first_decision"))
      .orderBy(col("day"))
  }

  override def catalog: Seq[Query] = Seq(
    Query("ev_sprt", sprt, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_conv
        |  FROM events WHERE user_id % 2 = 1
        |  GROUP BY CAST(ts AS DATE)),
        |run AS (
        |  SELECT day, n_events, n_conv,
        |    CAST(SUM(n_conv * 405465 + (n_events - n_conv) * (-57159))
        |      OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS llr_micro
        |  FROM daily),
        |v AS (
        |  SELECT *,
        |    CASE WHEN llr_micro >= 2944438 THEN 'accept_h1'
        |         WHEN llr_micro <= -2944439 THEN 'accept_h0'
        |         ELSE 'continue' END AS verdict
        |  FROM run)
        |SELECT day, n_events, n_conv, llr_micro, verdict,
        |  CASE WHEN verdict <> 'continue' AND COALESCE(
        |      SUM(CASE WHEN llr_micro >= 2944438 OR llr_micro <= -2944439
        |        THEN 1 ELSE 0 END) OVER (ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      CAST(0 AS BIGINT)) = 0
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        |    AS first_decision
        |FROM v ORDER BY day""".stripMargin)),
    // The sequential recurrence unrolls as a recursive CTE stepping the
    // per-type hour rank; MATERIALIZED per the multi-reference CTE rule.
    Query("ev_cusum_drift", cusumDrift, Some(
      """WITH RECURSIVE counts AS MATERIALIZED (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |ref AS MATERIALIZED (
        |  SELECT event_type,
        |    CAST(FLOOR(1000.0 * CAST(SUM(x) AS DOUBLE) /
        |      CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS k_milli,
        |    CAST(COUNT(*) AS BIGINT) AS n_hours
        |  FROM counts GROUP BY 1),
        |rn AS MATERIALIZED (
        |  SELECT c.event_type, c.h, c.x, r.k_milli, r.n_hours,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c.event_type ORDER BY c.h)
        |      AS BIGINT) AS r
        |  FROM counts c JOIN ref r USING (event_type)),
        |rec AS (
        |  SELECT event_type, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS c,
        |    CAST(0 AS BIGINT) AS cmax, CAST(-1 AS BIGINT) AS hmax
        |  FROM ref
        |  UNION ALL
        |  SELECT rn.event_type, rn.r,
        |    GREATEST(CAST(0 AS BIGINT), rec.c + 1000 * rn.x - rn.k_milli),
        |    GREATEST(rec.cmax,
        |      GREATEST(CAST(0 AS BIGINT), rec.c + 1000 * rn.x - rn.k_milli)),
        |    CASE WHEN GREATEST(CAST(0 AS BIGINT),
        |        rec.c + 1000 * rn.x - rn.k_milli) > rec.cmax
        |      THEN rn.h ELSE rec.hmax END
        |  FROM rec JOIN rn ON rn.event_type = rec.event_type
        |    AND rn.r = rec.r + 1)
        |SELECT ref.event_type, ref.k_milli, ref.n_hours,
        |  rec.cmax AS cusum_max, rec.hmax AS h_at_max
        |FROM rec JOIN ref ON rec.event_type = ref.event_type
        |  AND rec.r = ref.n_hours
        |ORDER BY ref.event_type""".stripMargin)),
    Query("ev_ewma_grid", ewmaGrid, Some(
      """WITH counts AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |hmax AS (SELECT MAX(h) AS hmax FROM counts),
        |fan AS (
        |  SELECT event_type, h + k AS t,
        |    cnt * (CAST(1 AS BIGINT) << (29 - k)) AS term,
        |    CASE WHEN k = 0 THEN cnt ELSE CAST(0 AS BIGINT) END AS x0
        |  FROM counts CROSS JOIN (
        |    SELECT UNNEST(range(0, 30)) AS k) ks)
        |SELECT event_type, t, CAST(SUM(x0) AS BIGINT) AS x,
        |  CAST(SUM(term) AS DOUBLE) / 1073741824.0 AS ewma
        |FROM fan CROSS JOIN hmax
        |WHERE t <= hmax
        |GROUP BY event_type, t, hmax
        |ORDER BY event_type, t""".stripMargin)),
    Query("ev_interarrival", interArrival, Some(
      """WITH g AS (
        |  SELECT event_type,
        |    (us - lag(us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id)) // 1000000 AS gap_s
        |  FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |        FROM events)),
        |gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        |grid AS (SELECT event_type, gap_s, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM gg GROUP BY 1, 2),
        |cum AS (SELECT event_type, gap_s, c,
        |  SUM(c) OVER (PARTITION BY event_type ORDER BY gap_s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM grid),
        |ns AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(SUM(gap_s * c) AS BIGINT) AS sum_gap FROM grid GROUP BY 1),
        |p50 AS (SELECT cum.event_type, MIN(gap_s) AS p50_gap_s
        |  FROM cum JOIN ns USING (event_type)
        |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |p90 AS (SELECT cum.event_type, MIN(gap_s) AS p90_gap_s
        |  FROM cum JOIN ns USING (event_type)
        |  WHERE cum >= (9 * n + 9) // 10 GROUP BY 1)
        |SELECT event_type, n AS n_gaps,
        |  CAST(sum_gap AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_s,
        |  CAST(p50_gap_s AS BIGINT) AS p50_gap_s,
        |  CAST(p90_gap_s AS BIGINT) AS p90_gap_s
        |FROM ns JOIN p50 USING (event_type) JOIN p90 USING (event_type)
        |ORDER BY event_type""".stripMargin)),
    Query("ev_time_to_convert", timeToConvert, Some(
      """WITH t AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |f AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us
        |      RANGE BETWEEN CURRENT ROW AND 604800000000 FOLLOWING)
        |    AS conv_us
        |  FROM t),
        |sg AS (SELECT * FROM f WHERE event_type = 'signup'),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signups FROM sg),
        |h AS (
        |  SELECT (conv_us - us) // 3600000000 AS delay_hours,
        |    CAST(COUNT(*) AS BIGINT) AS n_conversions
        |  FROM sg WHERE conv_us IS NOT NULL GROUP BY 1)
        |SELECT delay_hours, n_conversions,
        |  CAST(SUM(n_conversions) OVER (ORDER BY delay_hours
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_conversions,
        |  CAST(SUM(n_conversions) OVER (ORDER BY delay_hours
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    CAST(n_signups AS DOUBLE) AS cum_rate
        |FROM h CROSS JOIN tot ORDER BY delay_hours""".stripMargin)),
    Query("ev_alert_crossings", alertCrossings, Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |av AS (SELECT event_type,
        |  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_n
        |  FROM daily GROUP BY 1),
        |m AS (
        |  SELECT d.event_type, d.n, av.avg_n,
        |    lag(d.n) OVER (PARTITION BY d.event_type ORDER BY d.day)
        |      AS prev_n
        |  FROM daily d JOIN av USING (event_type))
        |SELECT event_type, MAX(avg_n) AS avg_daily,
        |  CAST(SUM(CASE WHEN n > avg_n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_days_above,
        |  CAST(SUM(CASE WHEN prev_n IS NOT NULL AND n > avg_n
        |    AND prev_n <= avg_n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_crossings
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // Independent arithmetic: the oracle classifies with CASE over the
    // same pair table rather than join flags.
    Query("ev_growth_accounting", growthAccounting, Some(
      """WITH p AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM p GROUP BY 1),
        |t AS (
        |  SELECT p.day,
        |    CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CASE WHEN p.day = f.first_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN p.day <> f.first_day AND EXISTS
        |      (SELECT 1 FROM p y WHERE y.user_id = p.user_id
        |        AND y.day = p.day - 1) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(SUM(CASE WHEN p.day <> f.first_day AND NOT EXISTS
        |      (SELECT 1 FROM p y WHERE y.user_id = p.user_id
        |        AND y.day = p.day - 1) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_resurrected
        |  FROM p JOIN f USING (user_id) GROUP BY p.day),
        |c AS (
        |  SELECT y.day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM p y WHERE NOT EXISTS
        |    (SELECT 1 FROM p t2 WHERE t2.user_id = y.user_id
        |      AND t2.day = y.day + 1)
        |  GROUP BY y.day + 1)
        |SELECT COALESCE(t.day, c.day) AS day,
        |  COALESCE(n_active, 0) AS n_active, COALESCE(n_new, 0) AS n_new,
        |  COALESCE(n_retained, 0) AS n_retained,
        |  COALESCE(n_resurrected, 0) AS n_resurrected,
        |  COALESCE(n_churned, 0) AS n_churned
        |FROM t FULL OUTER JOIN c ON t.day = c.day
        |ORDER BY day""".stripMargin)),
    Query("ev_pareto_share", paretoShare, Some(
      """WITH uc AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t_events,
        |  CAST(COUNT(*) AS BIGINT) AS t_users FROM uc),
        |r AS (
        |  SELECT n,
        |    CAST((row_number() OVER (ORDER BY n DESC, user_id) * 10
        |      + t_users - 1) // t_users AS INT) AS decile,
        |    t_events
        |  FROM uc CROSS JOIN tot),
        |g AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(n) AS BIGINT) AS n_events,
        |    CAST(MAX(t_events) AS BIGINT) AS t_events
        |  FROM r GROUP BY decile)
        |SELECT decile, n_users, n_events,
        |  CAST(n_events AS DOUBLE) / CAST(t_events AS DOUBLE) AS share,
        |  CAST(SUM(n_events) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    CAST(t_events AS DOUBLE) AS cum_share
        |FROM g ORDER BY decile""".stripMargin)),
    Query("ev_sequence_negation", sequenceNegation, Some(
      """WITH t AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |m AS (
        |  SELECT user_id, event_type,
        |    MAX(CASE WHEN event_type = 'signup' THEN us END) OVER w
        |      AS last_signup,
        |    MAX(CASE WHEN event_type = 'error' THEN us END) OVER w
        |      AS last_error
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN last_signup IS NOT NULL AND
        |    (last_error IS NULL OR last_error < last_signup)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM m WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("ev_velocity_flags", velocityFlags, Some(
      """WITH t AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |m AS (
        |  SELECT user_id, event_type,
        |    COUNT(*) OVER (PARTITION BY user_id ORDER BY us
        |      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h
        |  FROM t)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN n_1h >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CAST(MAX(n_1h) AS BIGINT) AS max_burst
        |FROM m WHERE event_type = 'purchase'
        |GROUP BY user_id HAVING n_flagged > 0
        |ORDER BY user_id""".stripMargin)),
    Query("ev_cohort_ltv", cohortLtv, Some(
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value
        |  FROM events),
        |fd AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1),
        |sz AS (SELECT cohort_day, COUNT(DISTINCT user_id) AS cohort_n
        |  FROM fd GROUP BY 1),
        |tri AS (
        |  SELECT fd.cohort_day, e.day - fd.cohort_day AS age,
        |    CAST(SUM(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev_cents,
        |    COUNT(DISTINCT e.user_id) AS n_buyers
        |  FROM e JOIN fd USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort_day, CAST(age AS BIGINT) AS age, rev_cents, n_buyers,
        |  cohort_n,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_day ORDER BY age)
        |    AS BIGINT) AS cum_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_day ORDER BY age)
        |    AS DOUBLE) / CAST(cohort_n AS DOUBLE) AS ltv_cents_per_user
        |FROM tri JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, age""".stripMargin)),
    // Spark dayofweek() is 1=Sunday..7; DuckDB dayofweek() is 0=Sunday..6.
    Query("ev_seasonality", seasonality, Some(
      """WITH byd AS (
        |  SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INT) AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t_events,
        |  CAST(SUM(n_days) AS BIGINT) AS t_days FROM byd)
        |SELECT dow, n_events, n_days,
        |  CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE) AS events_per_day,
        |  CAST(n_events * t_days AS DOUBLE) /
        |    CAST(t_events * n_days AS DOUBLE) AS seasonal_index
        |FROM byd CROSS JOIN tot ORDER BY dow""".stripMargin)),
    Query("ev_forecast_eval", forecastEval, Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m7 AS (
        |  SELECT a.event_type, 'seasonal_naive_7' AS model,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(abs(a.n - f.n)) AS BIGINT) AS sae,
        |    CAST(SUM(a.n - f.n) AS BIGINT) AS se
        |  FROM daily a JOIN daily f
        |    ON a.event_type = f.event_type AND a.day = f.day + 7
        |  GROUP BY 1),
        |m1 AS (
        |  SELECT a.event_type, 'naive_1' AS model,
        |    CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(abs(a.n - f.n)) AS BIGINT) AS sae,
        |    CAST(SUM(a.n - f.n) AS BIGINT) AS se
        |  FROM daily a JOIN daily f
        |    ON a.event_type = f.event_type AND a.day = f.day + 1
        |  GROUP BY 1)
        |SELECT event_type, model, n_days,
        |  CAST(sae AS DOUBLE) / CAST(n_days AS DOUBLE) AS mae,
        |  CAST(se AS DOUBLE) / CAST(n_days AS DOUBLE) AS bias
        |FROM (SELECT * FROM m7 UNION ALL SELECT * FROM m1)
        |ORDER BY event_type, model""".stripMargin)),
    Query("ev_attribution_multi", attributionMulti, Some(
      """WITH t AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type = 'purchase' THEN
        |      lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '|' ||
        |      CAST(event_id AS VARCHAR) END AS psig
        |  FROM events),
        |f AS (
        |  SELECT *, MIN(psig) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN CURRENT ROW AND 604800000000 FOLLOWING)
        |    AS conv_sig
        |  FROM t),
        |touches AS (
        |  SELECT event_type,
        |    CAST(split_part(conv_sig, '|', 1) AS BIGINT) AS conv_us,
        |    CAST(split_part(conv_sig, '|', 2) AS BIGINT) AS conv_id, us
        |  FROM f
        |  WHERE event_type IN ('click', 'view') AND conv_sig IS NOT NULL),
        |c AS (
        |  SELECT event_type, conv_id,
        |    COUNT(*) OVER (PARTITION BY conv_id) AS nt,
        |    (conv_us - us) // 86400000000 AS age_days
        |  FROM touches)
        |SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |  CAST(SUM(1000000 // nt) AS BIGINT) AS linear_credit_micro,
        |  CAST(SUM(1000000 // (1 << CAST(age_days AS INT))) AS BIGINT)
        |    AS decay_credit_micro
        |FROM c GROUP BY 1 ORDER BY channel""".stripMargin)),
    Query("ev_rolling_actives", rollingActives, Some(
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS d FROM pairs)
        |SELECT d AS day,
        |  COUNT(DISTINCT CASE WHEN date_diff('day', day, d) = 0
        |    THEN user_id END) AS dau,
        |  COUNT(DISTINCT CASE WHEN date_diff('day', day, d) <= 6
        |    THEN user_id END) AS wau,
        |  COUNT(DISTINCT user_id) AS mau,
        |  CAST(COUNT(DISTINCT CASE WHEN date_diff('day', day, d) = 0
        |      THEN user_id END) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS dau_mau,
        |  CAST(COUNT(DISTINCT CASE WHEN date_diff('day', day, d) <= 6
        |      THEN user_id END) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS wau_mau
        |FROM days JOIN pairs ON date_diff('day', day, d) BETWEEN 0 AND 27
        |GROUP BY d ORDER BY day""".stripMargin)),
    // INDEPENDENT formulation (no fold): in the state machine the anchor
    // is always the last view seen, so stage>=2 <=> some click lands
    // within 2h of its last preceding view, and stage 3 <=> such a click
    // is followed by a purchase inside the same deadline with no view
    // re-anchoring in between. Per-user timestamps are unique in the
    // fixture (verified at all sfs), so window order on us is total.
    // DuckDB 1.0's list_reduce over grouped struct lists was observed to
    // misfold one group in ~1500 — avoided deliberately.
    Query("ev_sequence_match", sequenceMatch, Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |cl AS (
        |  SELECT user_id, us AS c_us, lastv FROM (
        |    SELECT user_id, event_type, us,
        |      max(CASE WHEN event_type = 'view' THEN us END) OVER
        |        (PARTITION BY user_id ORDER BY us
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lastv
        |    FROM e) t
        |  WHERE event_type = 'click' AND lastv IS NOT NULL
        |    AND us - lastv <= 7200000000),
        |s3 AS (
        |  SELECT DISTINCT c.user_id FROM cl c
        |  JOIN e p ON p.user_id = c.user_id AND p.event_type = 'purchase'
        |    AND p.us > c.c_us AND p.us - c.lastv <= 7200000000
        |  WHERE NOT EXISTS (SELECT 1 FROM e w WHERE w.user_id = c.user_id
        |    AND w.event_type = 'view' AND w.us > c.c_us AND w.us < p.us)),
        |st AS (SELECT u.user_id,
        |    CASE WHEN u.user_id IN (SELECT user_id FROM s3) THEN 3
        |         WHEN u.user_id IN (SELECT user_id FROM cl) THEN 2
        |         WHEN u.user_id IN (SELECT user_id FROM e
        |           WHERE event_type = 'view') THEN 1
        |         ELSE 0 END AS stage
        |  FROM u)
        |SELECT stage, COUNT(*) AS n_users
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin)),
    Query("ev_type_entropy", typeEntropy, Some(
      """WITH p AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
        |      AS DOUBLE) AS n_click,
        |    CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
        |      AS DOUBLE) AS n_error,
        |    CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS DOUBLE) AS n_purchase,
        |    CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END)
        |      AS DOUBLE) AS n_signup,
        |    CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
        |      AS DOUBLE) AS n_view
        |  FROM events GROUP BY day)
        |SELECT day, CAST(n AS BIGINT) AS n_events,
        |  round(
        |    (CASE WHEN n_click > 0
        |       THEN -(n_click / n) * ln(n_click / n) ELSE 0.0 END)
        |    + (CASE WHEN n_error > 0
        |       THEN -(n_error / n) * ln(n_error / n) ELSE 0.0 END)
        |    + (CASE WHEN n_purchase > 0
        |       THEN -(n_purchase / n) * ln(n_purchase / n) ELSE 0.0 END)
        |    + (CASE WHEN n_signup > 0
        |       THEN -(n_signup / n) * ln(n_signup / n) ELSE 0.0 END)
        |    + (CASE WHEN n_view > 0
        |       THEN -(n_view / n) * ln(n_view / n) ELSE 0.0 END), 6)
        |    AS entropy,
        |  round(1.0 - ((n_click / n) * (n_click / n)
        |    + (n_error / n) * (n_error / n)
        |    + (n_purchase / n) * (n_purchase / n)
        |    + (n_signup / n) * (n_signup / n)
        |    + (n_view / n) * (n_view / n)), 6) AS gini
        |FROM p ORDER BY day""".stripMargin)),
    Query("ev_churn", churn, Some(
      """WITH per AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY user_id),
        |e AS (SELECT max(epoch_us(ts)) AS end_us FROM events)
        |SELECT CAST(make_timestamp(first_us) AS DATE) AS cohort_day,
        |  COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN end_us - last_us > CAST(604800 AS BIGINT) * 1000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |  CAST(SUM(CASE WHEN end_us - last_us > CAST(604800 AS BIGINT) * 1000000
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS churn_rate
        |FROM per, e GROUP BY cohort_day ORDER BY cohort_day""".stripMargin)),
    Query("ev_markov_transitions", markovTransitions, Some(
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS cur, nxt, COUNT(*) AS n,
        |  CAST(COUNT(*) AS DOUBLE) /
        |    CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE)
        |    AS prob
        |FROM e WHERE nxt IS NOT NULL
        |GROUP BY cur, nxt ORDER BY cur, nxt""".stripMargin)),
    Query("ev_funnel_timebound", funnelTimebound, Some(
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT f.user_id, CAST(f.fv AS DATE) AS day,
        |    CASE WHEN EXISTS (SELECT 1 FROM events p
        |      WHERE p.user_id = f.user_id AND p.event_type = 'purchase'
        |        AND p.ts > f.fv AND p.ts <= f.fv + INTERVAL 1 HOUR)
        |      THEN 1 ELSE 0 END AS conv
        |  FROM fv f)
        |SELECT day, COUNT(*) AS n_entered,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted,
        |  CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS conv_rate
        |FROM c GROUP BY day ORDER BY day""".stripMargin)),
    Query("ev_interpolate", interpolate, Some(
      """WITH ev AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h, value
        |  FROM events WHERE event_type = 'purchase'),
        |hourly AS (
        |  SELECT h, CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) / COUNT(value) AS v
        |  FROM ev GROUP BY h),
        |hours AS (
        |  SELECT unnest(generate_series((SELECT MIN(h) FROM ev),
        |    (SELECT MAX(h) FROM ev))) AS h),
        |g AS (SELECT hours.h, hourly.v FROM hours LEFT JOIN hourly USING (h)),
        |b AS (
        |  SELECT h, v,
        |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER wb AS ph,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
        |      OVER wf AS nh,
        |    first_value(v IGNORE NULLS) OVER wf AS nv
        |  FROM g
        |  WINDOW wb AS (ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT h, v AS observed,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN ph IS NOT NULL AND nh IS NOT NULL
        |         THEN pv + (nv - pv)
        |           * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
        |  END AS v_interp
        |FROM b ORDER BY h""".stripMargin)),
    Query("ev_attribution", attribution, Some(
      """SELECT channel, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM (
        |  -- DuckDB split_part(NULL, ...) yields '' (not NULL) — test the
        |  -- source expression, not the split result
        |  SELECT CASE WHEN last_sig IS NULL THEN 'none'
        |              ELSE split_part(last_sig, '|', 2) END AS channel,
        |    value
        |  FROM (
        |    SELECT user_id, event_type, value, us,
        |      MAX(CASE WHEN event_type <> 'purchase'
        |        THEN lpad(CAST(us AS VARCHAR), 20, '0') || '|' || event_type
        |        END) OVER (PARTITION BY user_id ORDER BY us
        |          RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |        AS last_sig
        |    FROM (SELECT user_id, event_type, value, epoch_us(ts) AS us
        |          FROM events) e) t
        |  WHERE event_type = 'purchase') p
        |GROUP BY channel ORDER BY channel""".stripMargin)),
    Query("ev_streaks", streaks, Some(
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_no
        |  FROM events),
        |isl AS (
        |  SELECT user_id, day_no,
        |    day_no - row_number() OVER (PARTITION BY user_id ORDER BY day_no)
        |      AS island
        |  FROM days),
        |st AS (
        |  SELECT user_id, island, COUNT(*) AS streak_days,
        |    MIN(day_no) AS start_day
        |  FROM isl GROUP BY user_id, island),
        |best AS (
        |  SELECT user_id, streak_days, start_day,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY streak_days DESC, start_day DESC) AS rk
        |  FROM st)
        |SELECT user_id, streak_days, start_day FROM best WHERE rk = 1
        |ORDER BY streak_days DESC, user_id LIMIT 25""".stripMargin)),
    Query("ev_ab_test", abTest, Some(
      """WITH conv AS (
        |  SELECT DISTINCT event_type, user_id FROM events WHERE value > 150),
        |goals AS (SELECT event_type,
        |    CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
        |      AS conv_b
        |  FROM conv GROUP BY event_type),
        |pop AS (SELECT
        |    CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
        |      AS n_a,
        |    CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
        |      AS n_b
        |  FROM (SELECT DISTINCT user_id FROM events))
        |SELECT event_type, n_a, n_b, conv_a, conv_b,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  ((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      - (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
        |    / sqrt(((CAST(conv_a + conv_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - (CAST(conv_a + conv_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))))
        |      * ((1.0 / CAST(n_a AS DOUBLE)) + (1.0 / CAST(n_b AS DOUBLE))))
        |    AS z_score
        |FROM goals CROSS JOIN pop
        |ORDER BY event_type""".stripMargin)),
    Query("ev_cap_per_entity", capPerEntity, Some(
      """WITH r AS (SELECT user_id, event_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day_id,
        |    row_number() OVER (PARTITION BY user_id,
        |      CAST(epoch_us(ts) AS BIGINT) // 86400000000
        |      ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id) AS rn
        |  FROM events)
        |SELECT user_id, day_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM r GROUP BY 1, 2 HAVING COUNT(*) > 3
        |ORDER BY 1, 2""".stripMargin)),
    Query("ev_ewma", ewma, Some(
      """SELECT user_id, event_id,
        |  (((((((COALESCE(lag(value,0) OVER w, 0.0) * 1.0)
        |   + (COALESCE(lag(value,1) OVER w, 0.0) * 0.5))
        |   + (COALESCE(lag(value,2) OVER w, 0.0) * 0.25))
        |   + (COALESCE(lag(value,3) OVER w, 0.0) * 0.125))
        |   + (COALESCE(lag(value,4) OVER w, 0.0) * 0.0625))
        |   + (COALESCE(lag(value,5) OVER w, 0.0) * 0.03125))
        |   + (COALESCE(lag(value,6) OVER w, 0.0) * 0.015625))
        |   + (COALESCE(lag(value,7) OVER w, 0.0) * 0.0078125) AS ewsum
        |FROM events WHERE user_id % 97 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)),
    Query("ev_path_funnel", pathFunnel, Some(
      """WITH gaps AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |        >= 1800000000
        |      OR lag(ts) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM gaps),
        |paths AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id)
        |      AS path
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT path, COUNT(*) AS n_sessions,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(regexp_matches(path, 'view.*purchase') AS INT) AS converted
        |FROM paths GROUP BY path
        |ORDER BY converted DESC, n_sessions DESC, path LIMIT 25""".stripMargin)),
    Query("ev_moving_avg", movingAvg, Some(
      """SELECT event_id, us, n_frame, ma FROM (
        |  SELECT event_id, epoch_us(ts) AS us,
        |    COUNT(*) OVER w AS n_frame,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR)
        |      AS DOUBLE) / COUNT(*) OVER w AS ma
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) t
        |ORDER BY event_id""".stripMargin)),
    Query("ev_session_paths", sessionPaths, Some(
      """WITH gaps AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |        >= 1800000000
        |      OR lag(ts) OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts), event_id) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM gaps)
        |SELECT user_id, session_id, epoch_us(MIN(ts)) AS first_us,
        |  COUNT(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),
    Query("ev_anomaly", anomaly, Some(
      """WITH st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_x,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4)))
        |      AS VARCHAR) AS DOUBLE) AS sum_x2
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, sum_x / n AS mu,
        |    sqrt((sum_x2 - sum_x * sum_x / n) / (n - 1)) AS sigma
        |  FROM st)
        |SELECT event_id, event_type, value, mu, sigma,
        |  (value - mu) / sigma AS z
        |FROM events JOIN m USING (event_type)
        |WHERE abs((value - mu) / sigma) > 2.5
        |ORDER BY event_id""".stripMargin)),
    Query("ev_gapfill", gapfill, Some(
      """WITH ev AS (SELECT event_type, datetrunc('hour', ts) AS h, value FROM events),
        |hourly AS (SELECT event_type, h, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS v
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
        |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
        |grid AS (SELECT event_type, h
        |  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN hours)
        |SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:00') AS hour,
        |  COALESCE(n, 0) AS n, COALESCE(v, 0.0) AS v,
        |  COALESCE(last_value(v IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS v_ffill
        |FROM grid g LEFT JOIN hourly USING (event_type, h)
        |ORDER BY event_type, hour""".stripMargin)),
    Query("ev_retention", retention, Some(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day,
        |  datediff('day', f.cohort_day, e.day) AS day_offset,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)),
    Query("ev_tumbling", tumbling, Some(
      s"""SELECT epoch_us(datetrunc('hour', ts)) AS window_start_us, event_type,
         |  COUNT(*) AS n, ${sqlDsum("CAST(value AS DECIMAL(18,4))")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin)),
    Query("ev_sliding", sliding, Some(
      """SELECT ((epoch_us(ts) // 900000000) * 900000000 - k * 900000000) AS window_start_us,
        |  COUNT(*) AS n
        |FROM events CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (1), (2), (3)) AS offs(k)
        |WHERE epoch_us(ts) < ((epoch_us(ts) // 900000000) * 900000000
        |    - k * 900000000 + 3600000000)
        |GROUP BY 1 ORDER BY window_start_us""".stripMargin)),
    Query("ev_sessions_dynamic", sessionsDynamic, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type IN ('click', 'view')
        |      THEN 1800000000 ELSE 3600000000 END AS gap
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, us, gap,
        |    MAX(us + gap) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, us, gap,
        |    CASE WHEN prev_end IS NULL OR us >= prev_end THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM m),
        |sess AS (
        |  SELECT user_id, us, gap,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, MIN(us) AS first_us,
        |  CAST(MAX(us + gap) AS BIGINT) AS session_end_us,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, first_us""".stripMargin)),
    Query("ev_sessions", sessions, Some(
      """WITH gaps AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts) >= 1800000000
        |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM gaps)
        |SELECT user_id, epoch_us(MIN(ts)) AS first_us, epoch_us(MAX(ts)) AS last_us,
        |  COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, first_us""".stripMargin)),
    Query("ev_dedup", dedupFirstPerKey, Some(
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),
    Query("ev_daily_funnel", dailyFunnel, Some(
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
        |    / COUNT(*) AS purchase_rate
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin)),
  )
}
