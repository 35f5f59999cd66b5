package graft.ops

import graft.{OracleSafe, Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational core — scans, filters, aggregations, joins (SURVEY.md §2.3–2.7).
  *
  * Scale posture: all aggregations are plain `groupBy.agg` so Catalyst emits
  * partial (map-side) + final aggregates; dimension joins broadcast the small
  * side explicitly; fact-fact joins shuffle on their join key only. Every
  * query ends in a total-order `orderBy` for oracle hash stability.
  */
object Relational extends QueryModule {
  import OracleSafe._

  /** TPC-H Q1 shape: scan → pushed filter → hash agg → sort. */
  def pricingSummary(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum2(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("sum_disc_price"),
        dsum3(col("l_extendedprice"), lit(1.0) - col("l_discount"), lit(1.0) + col("l_tax"))
          .as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1.0 - l_discount AS DECIMAL(8,4)) * CAST(1.0 + l_tax AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, top-10 revenue.
    * customer is small → broadcast; orders⋈lineitem shuffles on orderkey.
    * Top-k via orderBy+limit → TakeOrderedAndProject (no global sort). */
  def topRevenueOrders(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
    val li   = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp_ntz"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      // Unhinted: the segment filter still leaves a corpus-proportional
      // customer subset (auto-broadcast at fixture, AQE shuffle at 100×).
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum2(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
      .select(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val topRevenueOrdersSql: String =
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** SCD-type-2 MERGE: close the current row of every updated key (set
    * valid_to/is_current) and open a new row effective `eff`. Unmatched
    * rows pass through untouched. This is the upsert-into-dimension plan:
    * one semi + one anti join against the update key set (broadcast — at
    * 100 TB the daily update batch is small relative to the dimension) and
    * a union; no full-table rewrite logic leaks into callers. */
  def scd2Merge(dim: DataFrame, upd: DataFrame, key: String, eff: String): DataFrame = {
    val updKeys = upd.select(col(key))
    val closed = dim.join(broadcast(updKeys), Seq(key), "left_semi")
      .withColumn("valid_to", lit(eff).cast("date"))
      .withColumn("is_current", lit(0))
    val untouched = dim.join(broadcast(updKeys), Seq(key), "left_anti")
    val opened = upd
      .withColumn("valid_from", lit(eff).cast("date"))
      .withColumn("valid_to", lit("2200-01-01").cast("date"))
      .withColumn("is_current", lit(1))
    untouched.unionByName(closed).unionByName(opened)
  }

  /** Registered SCD2 scenario: customer is the day-0 dimension snapshot;
    * every 10th key receives an upgraded segment + adjusted balance
    * effective 2024-06-01 (update batch derived deterministically from the
    * same table so the oracle can rebuild it). */
  def scd2Upsert(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      lit("2024-01-01").cast("date").as("valid_from"),
      lit("2200-01-01").cast("date").as("valid_to"),
      lit(1).as("is_current"))
    val upd = Tables.customer(s, d).filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit("UPGRADED").as("c_mktsegment"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
    scd2Merge(dim, upd, "c_custkey", "2024-06-01")
      .orderBy(col("c_custkey"), col("valid_from"))
  }

  val scd2UpsertSql: String =
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal,
      |    DATE '2024-01-01' AS valid_from, DATE '2200-01-01' AS valid_to,
      |    1 AS is_current
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey, 'UPGRADED' AS c_mktsegment,
      |    c_acctbal + 100.0 AS c_acctbal
      |  FROM customer WHERE c_custkey % 10 = 0)
      |SELECT * FROM (
      |  SELECT d.* FROM dim d
      |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
      |    DATE '2024-06-01' AS valid_to, 0 AS is_current
      |  FROM dim WHERE c_custkey IN (SELECT c_custkey FROM upd)
      |  UNION ALL
      |  SELECT c_custkey, c_mktsegment, c_acctbal,
      |    DATE '2024-06-01', DATE '2200-01-01', 1
      |  FROM upd) t
      |ORDER BY c_custkey, valid_from""".stripMargin

  /** Column profiler (df.summary twin, but oracle-exact): per numeric
    * lineitem column — row/non-null counts, min/max, exact-decimal mean and
    * stddev. ONE aggregate pass over the table computes every column's
    * moments simultaneously (a naive per-column loop would scan the table
    * k times); the per-column rows are unpacked from the single result row,
    * so the plan is scan → partial/final agg → 4-row explode. */
  def profile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def sx(c: String) = d2d(sum(col(c).cast("decimal(18,4)")))
    // (18,4) not (12,4): a non-ANSI cast overflow (value ≥ 1e8) would
    // NULL only the Spark-side moment and break cross-engine parity
    def sx2(c: String) = d2d(sum(col(c).cast("decimal(18,4)")
      * col(c).cast("decimal(18,4)")))
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"n_$c"), sx(c).as(s"sx_$c"), sx2(c).as(s"sx2_$c"),
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    val ag = Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
    ag.select(explode(array(cols.map { c =>
        val n = col(s"n_$c")
        struct(lit(c).as("col_name"), col("n_rows"), n.as("n_non_null"),
          col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"),
          (col(s"sx_$c") / n).as("mean"),
          sqrt((col(s"sx2_$c") - col(s"sx_$c") * col(s"sx_$c") / n)
            / (n - 1)).as("stddev"))
      }: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Data-quality report (expectation checks, deequ/dbt-test style): each
    * rule yields (rule, n_checked, n_violations, passed). Same-table rules
    * are FUSED into one aggregate pass per table — adding a rule adds
    * columns to an existing scan, not a new scan; the referential check is
    * the one extra anti-join. */
  def qualityReport(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    def rule(name: String, checked: Column, violations: Column) =
      struct(lit(name).as("rule"), checked.as("n_checked"),
        violations.as("n_violations"),
        (violations === 0L).cast("int").as("passed"))
    val liRules = li.agg(
      count(lit(1)).as("n"),
      count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)).as("v_qty"),
      count(when(col("l_discount") > 0.06, 1)).as("v_disc"),
      count(when(col("l_tax") < 0, 1)).as("v_tax"))
      .select(explode(array(
        rule("lineitem.quantity_in_1_50", col("n"), col("v_qty")),
        rule("lineitem.discount_le_0.06", col("n"), col("v_disc")),
        rule("lineitem.tax_non_negative", col("n"), col("v_tax")))).as("r"))
    val oRules = o.agg(
      count(lit(1)).as("n"),
      count(when(!col("o_orderstatus").isin("F", "O", "P"), 1)).as("v_status"),
      count(when(col("o_custkey").isNull, 1)).as("v_null"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_dup"))
      .select(explode(array(
        rule("orders.status_in_domain", col("n"), col("v_status")),
        rule("orders.custkey_not_null", col("n"), col("v_null")),
        rule("orders.orderkey_unique", col("n"), col("v_dup")))).as("r"))
    val orphan = li.join(o.select(col("o_orderkey")),
        li("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    val refRule = li.agg(count(lit(1)).as("n")).crossJoin(orphan)
      .select(rule("lineitem.orderkey_references_orders",
        col("n"), col("v")).as("r"))
    liRules.unionByName(oRules).unionByName(refRule)
      .select(col("r.*")).orderBy(col("rule"))
  }

  /** Order-independent table checksums — the migration-validation primitive
    * (this project's own story: prove an engine port preserves content).
    * Row hash = 32-bit md5 over the unit-separator-joined canonical row
    * string (moneys via DECIMAL(12,2) so both engines render identical
    * text); table checksum = SUM of row hashes + row count, commutative so
    * partitioning/order/distribution never matter. */
  def tableChecksums(s: SparkSession, d: String): DataFrame = {
    def rowHash(cs: Seq[Column]) =
      conv(substring(md5(concat_ws("\u001f", cs: _*)), 1, 8), 16, 10)
        .cast("long")
    def one(name: String, df: DataFrame, cs: Seq[Column]) =
      df.agg(count(lit(1)).as("n_rows"), sum(rowHash(cs)).as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    one("region", Tables.region(s, d),
      Seq(col("r_regionkey").cast("string"), col("r_name")))
      .unionByName(one("nation", Tables.nation(s, d),
        Seq(col("n_nationkey").cast("string"), col("n_name"),
          col("n_regionkey").cast("string"))))
      .unionByName(one("supplier", Tables.supplier(s, d),
        Seq(col("s_suppkey").cast("string"), col("s_name"),
          col("s_nationkey").cast("string"),
          col("s_acctbal").cast("decimal(12,2)").cast("string"))))
      .orderBy(col("table_name"))
  }

  /** Skew diagnostic: the top-10 heaviest keys with their share of total
    * rows — the report you run before choosing a salting factor
    * (join_salted_skew is the cure; this is the diagnosis). One groupBy +
    * TakeOrderedAndProject; the total is a scalar broadcast into the
    * projection. */
  def skewReport(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // total enters the plan as a broadcast 1-row cross join, not a
    // driver-side ev.count() at plan-build time (extra scan job).
    val total = broadcast(ev.agg(count(lit(1)).cast("double").as("total")))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .crossJoin(total)
      .withColumn("share", col("n").cast("double") / col("total"))
      .drop("total")
      .orderBy(col("n").desc, col("user_id"))
      .limit(10)
  }

  /** Incremental aggregation (materialized-view refresh pattern): the
    * corpus is aggregated in two independent halves (before/after a cutoff
    * day), each half's PARTIAL state kept exact (count + DECIMAL sum), then
    * the states are merged by re-aggregation. Oracle = the single-pass
    * aggregate over everything — proving merge(partial, partial) ≡ full
    * recompute, the property that makes daily-refresh pipelines correct.
    * Finalization (decimal → double) happens only after the merge. */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def partial(df: DataFrame) = df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("sv"))
    val cutoff = lit("2024-01-15").cast("date")
    partial(ev.filter(col("ts").cast("date") < cutoff))
      .unionByName(partial(ev.filter(col("ts").cast("date") >= cutoff)))
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n"),
        d2d(sum(col("sv"))).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Period-over-period reporting: monthly order revenue with
    * month-over-month growth. Cents are exact integers, so prev-month
    * revenue is carried by a lag window over the TINY monthly aggregate
    * (|months| rows — the window runs after the reduction, never on the
    * fact table) and growth is one IEEE division of exact integers —
    * bit-portable with no decimal scaffolding. */
  def momGrowth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("month"))
    Tables.orders(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("long").as("cents"))
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .withColumn("mom_growth",
        (col("cents").cast("double") / col("prev_cents").cast("double"))
          - 1.0)
      .orderBy(col("month"))
  }

  /** Foreign-key candidate discovery (schema profiling): for each proposed
    * child→parent column pair, the containment ratio — the fraction of the
    * child's DISTINCT values present in the parent key set. True FKs score
    * 1.0; the deliberately wrong pair (o_orderkey→c_custkey) scores low,
    * showing the discriminator works. Each pair is one distinct on the
    * child (partial-agg shuffle at |distinct| volume, never |rows|) and a
    * left-anti join against the parent keys; counts are exact integers and
    * the ratio one IEEE division — bit-portable. This is the profiling
    * pass that recovers join keys on an undocumented lake. */
  def fkDiscovery(s: SparkSession, d: String): DataFrame = {
    def pair(name: String, child: DataFrame, childCol: String,
        parent: DataFrame, parentCol: String): DataFrame = {
      val cd = child.select(col(childCol).cast("long").as("v")).distinct()
      val pd = parent.select(col(parentCol).cast("long").as("v")).distinct()
      val missing = cd.join(pd, Seq("v"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      cd.agg(count(lit(1)).as("n_child_distinct"))
        .crossJoin(missing)
        .select(lit(name).as("candidate"), col("n_child_distinct"),
          col("n_missing"),
          ((col("n_child_distinct") - col("n_missing")).cast("double")
            / col("n_child_distinct").cast("double")).as("containment"))
    }
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    pair("l_orderkey->o_orderkey", li, "l_orderkey", o, "o_orderkey")
      .unionByName(pair("l_partkey->p_partkey", li, "l_partkey",
        Tables.part(s, d), "p_partkey"))
      .unionByName(pair("l_suppkey->s_suppkey", li, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"))
      .unionByName(pair("o_custkey->c_custkey", o, "o_custkey",
        Tables.customer(s, d), "c_custkey"))
      .unionByName(pair("o_orderkey->c_custkey", o, "o_orderkey",
        Tables.customer(s, d), "c_custkey"))
      .orderBy(col("candidate"))
  }

  /** Incremental JOIN maintenance (insert-only IVM — the join twin of
    * [[incrementalAgg]]): with appends ΔA to orders and ΔB to customer,
    * the new join state is maintained as
    * Q_old ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — three delta joins whose
    * inputs are only the new rows (plus one old-side probe each), never a
    * re-join of the full tables. At 100 TB this is the difference between
    * touching a day's increment and recomputing the fact⋈dim join from
    * scratch; deletions/updates need retraction counting and are served by
    * the latest-wins [[cdcApply]] instead. The registered query emits a
    * per-segment summary OF THE INCREMENTALLY-MAINTAINED union, and the
    * oracle recomputes the same summary from the full join — the gate
    * proves the delta algebra equals the recompute. Splits are
    * deterministic: orders before/after 1996-07-01, customers by key mod
    * 7 (late-arriving dimension rows). */
  def incrementalJoin(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1996-07-01").cast("date")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val aOld = o.filter(col("o_orderdate").cast("date") < cut)
    val aNew = o.filter(col("o_orderdate").cast("date") >= cut)
    val bOld = c.filter(col("c_custkey") % 7 =!= 0)
    val bNew = c.filter(col("c_custkey") % 7 === 0)
    // Unhinted: B_old is the full old dimension state — corpus-
    // proportional, so the production incremental plan shuffles (or
    // bucket-joins) on the key; the planner still auto-broadcasts these
    // fixture-scale sides.
    def j(a: DataFrame, b: DataFrame) =
      a.join(b, col("o_custkey") === col("c_custkey"))
    val qNew = j(aOld, bOld)            // Q_old (materialized state)
      .unionByName(j(aNew, bOld))       // ΔA ⋈ B_old
      .unionByName(j(aOld, bNew))       // A_old ⋈ ΔB
      .unionByName(j(aNew, bNew))       // ΔA ⋈ ΔB
    qNew.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("long").as("cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** Snapshot reconciliation (table diff): compare two versions of a table
    * by primary key and classify every key as added / removed / changed,
    * with the exact set of changed columns. Both snapshots derive
    * deterministically from one orders scan — version A drops keys ≡ 0
    * (mod 13); version B drops keys ≡ 0 (mod 17), bumps o_totalprice on
    * keys ≡ 0 (mod 11) and flips o_orderstatus on keys ≡ 0 (mod 19) — so
    * adds, removals, single- and multi-column changes all occur (and
    * o_custkey, never modified, proves the mask reports no false
    * changes). One full-outer shuffle on the key; the change mask is a
    * pure projection. Complements `rel_checksums`: the checksum says
    * WHETHER tables differ, this says exactly HOW. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    val a = o.filter(col("o_orderkey") % 13 =!= 0)
    val b = o.filter(col("o_orderkey") % 17 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 19 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    val changedCols = concat_ws(",",
      when(col("a.o_custkey") =!= col("b.o_custkey"), lit("o_custkey")),
      when(col("a.o_orderstatus") =!= col("b.o_orderstatus"),
        lit("o_orderstatus")),
      when(col("a.o_totalprice") =!= col("b.o_totalprice"),
        lit("o_totalprice")))
    a.as("a")
      .join(b.as("b"), col("a.o_orderkey") === col("b.o_orderkey"),
        "full_outer")
      .select(
        coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        when(col("a.o_orderkey").isNull, "added")
          .when(col("b.o_orderkey").isNull, "removed")
          .when(changedCols =!= "", "changed")
          .otherwise("same").as("status"),
        changedCols.as("changed_cols"))
      .filter(col("status") =!= "same")
      .orderBy(col("o_orderkey"))
  }

  /** Point-in-time (temporal) join: enrich each fact with the dimension
    * version VALID AT THE FACT'S OWN TIMESTAMP — the SCD2 consumer side.
    * Half the facts are shifted +150 days so both the original and the
    * upgraded version are exercised. Equi-join on the key with the
    * validity interval as a residual predicate: stays a hash join (never
    * nested-loop) because SCD2 bounds versions per key; at 100 TB the
    * dim broadcasts or buckets by key exactly like any other dim join. */
  def pointInTimeJoin(s: SparkSession, d: String): DataFrame = {
    val dim0 = Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      lit("2024-01-01").cast("date").as("valid_from"),
      lit("2200-01-01").cast("date").as("valid_to"),
      lit(1).as("is_current"))
    val upd = Tables.customer(s, d).filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), lit("UPGRADED").as("c_mktsegment"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
    val scd = scd2Merge(dim0, upd, "c_custkey", "2024-06-01")
    val facts = Tables.events(s, d).select(col("event_id"), col("user_id"),
      when(col("event_id") % 2 === 0, date_add(col("ts").cast("date"), 150))
        .otherwise(col("ts").cast("date")).as("day"))
    facts.join(scd,
        facts("user_id") === scd("c_custkey") &&
          col("day") >= col("valid_from") && col("day") < col("valid_to"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("c_mktsegment"))
  }

  /** CDC changelog apply — reconstruct a table from an insert/update/
    * delete change stream: the LATEST op per key wins and a delete
    * tombstone removes the key (the Debezium/Delta "apply changes"
    * semantics; rel_scd2_merge is the history-keeping twin, this is the
    * latest-state twin). The changelog derives deterministically from
    * orders: every key inserts at seq 1, keys ≡ 0 (mod 7) update at seq 2
    * (+100.0 — IEEE-exact on both engines), keys ≡ 0 (mod 13) delete at
    * seq 3. Apply = one row_number window over (key, seq desc) + a
    * tombstone filter: exactly ONE shuffle on the key at any scale —
    * changelog compaction at 100 TB is this same plan over the day's
    * change files. */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val ins = o.select(col("o_orderkey"), lit(1L).as("seq"),
      lit("I").as("op"), col("o_totalprice").as("price"))
    val upd = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 100.0).as("price"))
    val del = o.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("price"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
    ins.unionByName(upd).unionByName(del)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("o_orderkey"), col("op").as("last_op"), col("price"))
      .orderBy(col("o_orderkey"))
  }

  /** Full SCD2 HISTORY rebuild from the changelog — the interval twin of
    * [[cdcApply]] (which keeps only the latest image): every I/U event
    * becomes a version row whose validity closes at the NEXT event's seq
    * (one `lead` per key — the window is partitioned by the key, so state
    * is per-key event count, never table-wide); a D closes the prior
    * version without emitting one, and `is_current` marks versions with
    * no successor. This is how a warehouse reconstructs as-was history
    * from a Debezium-style feed. One hash shuffle on the key. */
  def cdcHistory(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val ins = o.select(col("o_orderkey"), lit(1L).as("seq"),
      lit("I").as("op"), col("o_totalprice").as("price"))
    val upd = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 100.0).as("price"))
    val del = o.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast("double").as("price"))
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("seq"))
    ins.unionByName(upd).unionByName(del)
      .withColumn("valid_to_seq", lead(col("seq"), 1).over(w))
      .filter(col("op") =!= "D")
      .select(col("o_orderkey"), col("seq").as("valid_from_seq"),
        col("price"), col("valid_to_seq"),
        when(col("valid_to_seq").isNull, 1).otherwise(0).as("is_current"))
      .orderBy(col("o_orderkey"), col("valid_from_seq"))
  }

  /** RFM segmentation (recency / frequency / monetary) — the classic
    * customer-value cube: per-customer R/F/M from one orders aggregate,
    * quintile boundaries as DISCRETE integer order statistics (the
    * ⌈0.2·i·n⌉-th smallest value per dimension — all three dimensions
    * are integer-valued: days, order counts, cents), scores assigned
    * map-side by boundary comparison, then the 125-cell segment rollup.
    * Discrete boundaries replace the earlier interpolated `percentile`
    * for two reasons: (a) an interpolated double boundary that lands
    * exactly on an integer data value is one ulp of cross-engine
    * interpolation divergence away from flipping a score (round-8
    * ADVICE), while integer order statistics are bit-exact by
    * construction; (b) `percentile`'s single group buffers every
    * customer, whereas the order statistics locate on the
    * distinct-value grid with the bucket-localized cumsum
    * ([[graft.ops.Aggs.median2Pass]] posture) — no whole-table buffer,
    * no unpartitioned window. The oracle derives the same boundaries
    * the OTHER way (full-sort row_number at rank k). Recency is
    * measured against the corpus max date built into the plan as a
    * broadcast scalar. Note scores rank raw values ascending (r_score
    * 5 = LEAST recent); consumers flip signs, the mechanics don't
    * care. */
  def rfm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, d)
    val cust = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("long").as("m"))
    val ref = o.agg(max(col("o_orderdate")).as("mx"))
    val base = cust.crossJoin(broadcast(ref))
      .withColumn("r", datediff(col("mx"), col("lastd")).cast("long"))
    // the ⌈0.2·i·n⌉-th smallest value of each dim (i = 1..4), located on
    // the distinct-value grid via the bucket-localized cum ≥ k selection.
    // All three dimensions MELT into one (dim, v) grid so the boundary
    // machinery runs ONCE — one plan of the orders aggregate, one pair of
    // grid windows (each partitioned at least by dim), one scoring join —
    // where the per-dim version planned the customer aggregate 4× and
    // paid three separate exchange chains (22 s cold in the r10 driver
    // run, #2 overall). Bucket widths stay per-dim (days / order counts /
    // cents have very different value ranges).
    val melted = base.select(explode(array(
        struct(lit("r").as("dim"), col("r").as("v")),
        struct(lit("f").as("dim"), col("f").as("v")),
        struct(lit("m").as("dim"), col("m").as("v")))).as("e"))
      .select(col("e.dim").as("dim"), col("e.v").as("v"))
    val grid = melted.groupBy(col("dim"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("qb", expr(
        "v div (CASE dim WHEN 'r' THEN 100 WHEN 'f' THEN 4 ELSE 1000000 END)"))
    val bk = grid.groupBy(col("dim"), col("qb")).agg(sum(col("c")).as("bc"))
    val wB = Window.partitionBy(col("dim")).orderBy(col("qb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bbase = bk
      .withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("dim"), col("qb"), col("base"))
    val wIn = Window.partitionBy(col("dim"), col("qb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // bbase is one row per (dim, value-bucket) — value-range-growing, so
    // unhinted (AQE broadcasts while small; r12 growth-audit rule).
    val cum = grid.join(bbase, Seq("dim", "qb"))
      .withColumn("cum", col("base") + sum(col("c")).over(wIn))
    val ks = grid.groupBy(col("dim")).agg(sum(col("c")).as("n"))
      .select(col("dim"), explode(array((1 to 4).map(i =>
        struct(lit(i).as("bi"),
          expr(s"(2 * $i * n + 9) div 10").as("k"))): _*)).as("tk"))
      .select(col("dim"), col("tk.bi").as("bi"), col("tk.k").as("k"))
    val bounds = cum.join(broadcast(ks), Seq("dim"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("dim"), col("bi")).agg(min(col("v")).as("bv"))
      .groupBy(col("dim"))
      .agg(transform(
        array_sort(collect_list(struct(col("bi"), col("bv")))),
        x => x.getField("bv")).as("bs"))
    // ≤3 rows → pivot to one (rb, fb, mb) row and broadcast into scoring.
    val brow = bounds.agg(
      max(when(col("dim") === "r", col("bs"))).as("rb"),
      max(when(col("dim") === "f", col("bs"))).as("fb"),
      max(when(col("dim") === "m", col("bs"))).as("mb"))
    def score(c: Column, b: Column): Column =
      (1 to 4).map(i => when(c > element_at(b, i), 1).otherwise(0))
        .reduce(_ + _) + 1
    base.crossJoin(broadcast(brow))
      .select(score(col("r"), col("rb")).as("r_score"),
        score(col("f"), col("fb")).as("f_score"),
        score(col("m"), col("mb")).as("m_score"),
        col("m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("m")).cast("long").as("cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Benford first-digit audit — the classic fabricated-data / broken-ETL
    * screen: the leading-digit distribution of order totals vs Benford's
    * law, with per-digit χ²-style contributions. The expected shares
    * log₁₀(1+1/d) are embedded as IDENTICAL 17-significant-digit literals
    * in both engines (no runtime log — both parse to the same double), so
    * every derived column is IEEE math on identical operands: exact
    * unrounded gate. One partial+final aggregate to ≤9 rows; the fold for
    * the total χ² is the order-pinned scalar-sorted fold
    * ([[Aggs.chiSquare]] idiom). A synthetic price book wouldn't follow
    * Benford — the gate pins the REPORT's arithmetic, the flag thresholds
    * are the operator's policy. */
  def benford(s: SparkSession, d: String): DataFrame = {
    val expected = Seq(
      "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
      "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
      "0.05799194697768673", "0.05115252244738129", "0.04575749056067514")
    val expCol = element_at(
      array(expected.map(e => expr(s"CAST($e AS DOUBLE)")): _*), col("digit"))
    val digits = Tables.orders(s, d)
      .filter(col("o_totalprice") >= 1.0)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("total"))
    val terms = digits.crossJoin(broadcast(tot))
      .withColumn("share", col("n").cast("double") / col("total").cast("double"))
      .withColumn("expected", expCol)
      .withColumn("dev", col("share") - col("expected"))
      .withColumn("chi_term",
        col("total").cast("double") * col("dev") * col("dev") / col("expected"))
    val chi2 = terms.agg(aggregate(array_sort(collect_list(col("chi_term"))),
      lit(0.0), (a, x) => a + x).as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n"), col("share"), col("expected"),
        col("dev"), col("chi_term"), col("chi2"))
      .orderBy(col("digit"))
  }

  /** Population Stability Index drift report — the "did the feature
    * distribution move between training and serving" number every ML
    * monitoring stack computes: event values banded into 10 fixed-width
    * bins, first half-month vs second, PSI = Σ (p₂−p₁)·ln(p₂/p₁) with
    * +1 Laplace smoothing so empty bins stay finite AND rational. The ln
    * is transcendental → each bin contribution rounds to 6 decimals on
    * both sides (repo convention) and the PSI total folds the rounded
    * terms in value order. Per event_type; one aggregate to a
    * |types|×10 grid, windows only on that grid. */
  def psiDrift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        when(dayofmonth(col("ts")) <= 15, 1).otherwise(2).as("period"),
        least(floor(col("value") / 50.0).cast("int"), lit(9)).as("band"))
    val grid = ev.groupBy(col("event_type"), col("band"))
      .agg(sum(when(col("period") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("period") === 2, 1L).otherwise(0L)).as("n2"))
    val tot = grid.groupBy(col("event_type"))
      .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
        count(lit(1)).as("nb"))
    val terms = grid.join(broadcast(tot), Seq("event_type"))
      .withColumn("p1", (col("n1") + 1L).cast("double") /
        (col("t1") + col("nb")).cast("double"))
      .withColumn("p2", (col("n2") + 1L).cast("double") /
        (col("t2") + col("nb")).cast("double"))
      .withColumn("contrib",
        round((col("p2") - col("p1")) * log(col("p2") / col("p1")), 6))
    val psi = terms.groupBy(col("event_type"))
      .agg(aggregate(array_sort(collect_list(col("contrib"))),
        lit(0.0), (a, x) => a + x).as("psi"))
    terms.join(broadcast(psi), Seq("event_type"))
      .select(col("event_type"), col("band"), col("n1"), col("n2"),
        col("p1"), col("p2"), col("contrib"), col("psi"))
      .orderBy(col("event_type"), col("band"))
  }

  /** Referential-integrity audit — the FK-violation report run before
    * trusting any star-schema join (the enforcement twin of
    * [[fkDiscovery]], which only proposes candidates): for each declared
    * FK edge, child rows, orphan rows (left-anti against the parent key
    * set), distinct orphan keys, and an ok flag. Each check is one
    * anti-join + two tiny aggregates; at 100 TB each edge shuffles once
    * on its key (or broadcasts the small parents) and the audits are
    * independent — a scheduler fans them out. */
  def riAudit(s: SparkSession, d: String): DataFrame = {
    def check(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val c = child.select(col(key).as("k"))
      val orphans = c.join(parent.select(col(pkey).as("k")).distinct(),
        Seq("k"), "left_anti")
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
          countDistinct(col("k")).as("n_orphan_keys")))
        .select(lit(name).as("fk"), col("n_child"), col("n_orphans"),
          col("n_orphan_keys"),
          when(col("n_orphans") === 0, 1).otherwise(0).cast("int").as("ok"))
    }
    Seq(
      check("lineitem.l_orderkey->orders", Tables.lineitem(s, d),
        "l_orderkey", Tables.orders(s, d), "o_orderkey"),
      check("lineitem.l_partkey->part", Tables.lineitem(s, d),
        "l_partkey", Tables.part(s, d), "p_partkey"),
      check("lineitem.l_suppkey->supplier", Tables.lineitem(s, d),
        "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      check("orders.o_custkey->customer", Tables.orders(s, d),
        "o_custkey", Tables.customer(s, d), "c_custkey"),
      check("customer.c_nationkey->nation", Tables.customer(s, d),
        "c_nationkey", Tables.nation(s, d), "n_nationkey"),
    ).reduce(_ unionByName _).orderBy(col("fk"))
  }

  /** Incremental aggregate maintenance WITH RETRACTIONS — the missing
    * third of the IVM story ([[incrementalAgg]] merges inserts,
    * [[cdcApply]] replaces rows; this maintains an AGGREGATE under
    * signed +1/−1 deltas, the Flink-retract-stream / Materialize model):
    * a base aggregate plus a delta batch of inserts AND deletes merges
    * by adding signed contributions per group — count and exact-cent sum
    * both maintain associatively, and a group whose maintained count
    * reaches 0 drops out (the HAVING the naive merge forgets). The
    * oracle recomputes from scratch over the final membership predicate,
    * so equality proves base ⊕ delta ≡ full recompute. Scale: the merge
    * touches |groups| rows — the whole point vs re-aggregating 100 TB. */
  def incrAggRetract(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_orderpriority").as("grp"), col("o_orderkey").as("key"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val base = o.filter(col("key") % 10 < 8)
    val inserts = o.filter(col("key") % 10 >= 8)
      .select(col("grp"), lit(1L).as("sign"), col("cents"))
    val deletes = base.filter(col("key") % 7 === 0)
      .select(col("grp"), lit(-1L).as("sign"), col("cents"))
    val baseAgg = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("cents"))
    val deltaAgg = inserts.unionByName(deletes)
      .groupBy(col("grp"))
      .agg(sum(col("sign")).cast("long").as("dn"),
        sum(col("sign") * col("cents")).cast("long").as("dcents"))
    baseAgg.join(deltaAgg, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("cents"), lit(0L)) + coalesce(col("dcents"), lit(0L)))
          .as("cents"))
      .filter(col("n") > 0)
      .orderBy(col("grp"))
  }

  /** 2-D skyline (Pareto-optimal set) of orders on (order value, customer
    * balance), maximizing both — the multi-objective "best tradeoffs"
    * operator under product search and candidate pruning. A point is on
    * the skyline iff no other point is ≥ in both coordinates and > in one.
    *
    * Scale shape: the quadratic dominance test collapses to a SUFFIX MAX
    * over the x grid (a point survives iff its y exceeds every higher-x
    * point's y), and that suffix max is bucket-localized exactly like the
    * house prefix-sums: the unpartitioned window runs only on the
    * knob-bounded bucket table (price range / 10⁴ rows); per-x suffix
    * maxes partition on the bucket. Dominance never materializes a pair.
    * Coordinates are floor-frozen to exact integers so cross-engine
    * comparison is exact. */
  def skyline(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.orders(s, d)
      // Unhinted: customer grows with the corpus (auto-broadcast at
      // fixture scale, AQE shuffle at 100×).
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(floor(col("o_totalprice")).cast("long").as("x"),
        floor(col("c_acctbal") * 100.0).cast("long").as("y"))
    // One heavy aggregate total: per-x max, lazily checkpointed so the
    // bucket-table branch and the main branch don't recompute it (the BPE
    // lazy-localCheckpoint precedent). Multiplicities are counted LAST,
    // against the ≤ dozens of surviving points, via a broadcast semi-pass
    // over pts — never a 150k-group count that mostly gets thrown away.
    val xm = pts.groupBy(col("x")).agg(max(col("y")).as("ymx"))
      .withColumn("bucket", expr("x div 10000"))
      .localCheckpoint(false)
    val bk = xm.groupBy(col("bucket")).agg(max(col("ymx")).as("bmax"))
    // Suffix maxes are phrased as RUNNING prefixes over DESCENDING order:
    // Spark executes unbounded-PRECEDING frames incrementally (O(n)) but
    // recomputes unbounded-FOLLOWING frames per row (O(n²) per partition —
    // measured 4 s vs 0.3 s on the 130k-point grid at sf0.1).
    val wAbove = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = bk
      .withColumn("above", max(col("bmax")).over(wAbove))
      .select(col("bucket"), col("above"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val minL = lit(Long.MinValue)
    // base is one row per x-bucket (value-range-growing) — unhinted.
    val sky = xm.join(base, Seq("bucket"))
      .withColumn("m", greatest(
        coalesce(max(col("ymx")).over(wIn), minL),
        coalesce(col("above"), minL)))
      .filter(col("ymx") > col("m"))
      .select(col("x").as("sx"), col("ymx").as("sy"))
    // sky is the skyline itself — O(log-ish) in the corpus but still
    // data-grown, so unhinted (AQE broadcasts the dozens of rows).
    pts.join(sky, col("x") === col("sx") && col("y") === col("sy"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n"))
      .orderBy(col("x"))
  }

  /** Market-basket association rules (support / confidence / lift) over
    * part co-purchases — the classic retail-mining operator. Pair support
    * comes from the same bounded per-order self-join as
    * [[Graph.triangles]] (Σ C(basket,2), linear for bounded baskets — the
    * support threshold is the density knob); each surviving pair yields
    * two directed rules. Counts stay BIGINT; confidence and lift are
    * single divisions of exact integer products. Top-20 by lift via a
    * distributed TakeOrdered merge. */
  def basketRules(s: SparkSession, d: String): DataFrame = {
    // ONE per-order basket aggregation feeds all three ingredients (pair
    // supports, per-item order counts, the order total) — the previous
    // distinct-(o,p)-then-self-join form paid an extra exchange + sort-
    // merge join on the order key for the same bounded pair fan-out
    // (Graph.coPairSupport, optimization round 14, guide §2.4).
    val baskets = Graph.coBaskets(s, d)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCnt = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("cp"))
    val pairs = Graph.pairSupportFrom(baskets)
      .select(col("u"), col("v"), col("support").as("cuv"))
      .filter(col("cuv") >= 3)
    val rules = pairs
      .select(col("u").as("ante"), col("v").as("cons"), col("cuv"))
      .unionByName(pairs
        .select(col("v").as("ante"), col("u").as("cons"), col("cuv")))
    rules
      .join(itemCnt.select(col("p").as("ante"), col("cp").as("c_ante")),
        Seq("ante"))
      .join(itemCnt.select(col("p").as("cons"), col("cp").as("c_cons")),
        Seq("cons"))
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("cuv"), col("c_ante"),
        col("c_cons"),
        (col("cuv").cast("double") / col("c_ante").cast("double"))
          .as("confidence"),
        ((col("n_orders") * col("cuv")).cast("double") /
          (col("c_ante") * col("c_cons")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons"))
      .limit(20)
  }

  private def profileSqlFor(c: String): String =
    s"""SELECT '$c' AS col_name, n_rows, n_non_null, min_val, max_val,
       |  sx / n_non_null AS mean,
       |  sqrt((sx2 - sx * sx / n_non_null) / (n_non_null - 1)) AS stddev
       |FROM (
       |  SELECT COUNT(*) AS n_rows, COUNT($c) AS n_non_null,
       |    MIN($c) AS min_val, MAX($c) AS max_val,
       |    CAST(CAST(SUM(CAST($c AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(SUM(CAST($c AS DECIMAL(19,4)) * CAST($c AS DECIMAL(19,4)))
       |      AS VARCHAR) AS DOUBLE) AS sx2
       |  FROM lineitem) t""".stripMargin

  private def checksumSqlFor(table: String, cols: String): String =
    s"""SELECT '$table' AS table_name, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(('0x' || substring(md5(concat_ws(chr(31), $cols)), 1, 8))
       |    AS BIGINT)) AS BIGINT) AS checksum
       |FROM $table""".stripMargin

  override def catalog: Seq[Query] = Seq(
    Query("rel_basket_rules", basketRules, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |ic AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cp FROM op GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cuv
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY a.p, b.p HAVING COUNT(*) >= 3),
        |rules AS (
        |  SELECT u AS ante, v AS cons, cuv FROM pairs
        |  UNION ALL SELECT v, u, cuv FROM pairs)
        |SELECT ante, cons, cuv, ia.cp AS c_ante, ic2.cp AS c_cons,
        |  CAST(cuv AS DOUBLE) / CAST(ia.cp AS DOUBLE) AS confidence,
        |  CAST(n_orders * cuv AS DOUBLE) / CAST(ia.cp * ic2.cp AS DOUBLE)
        |    AS lift
        |FROM rules JOIN ic ia ON ia.p = rules.ante
        |JOIN ic ic2 ON ic2.p = rules.cons
        |CROSS JOIN n
        |ORDER BY lift DESC, ante, cons LIMIT 20""".stripMargin)),
    // Direct suffix-max formulation over the x grid (the bucket split is a
    // Spark-side plan optimization the algebra is invariant to).
    Query("rel_skyline", skyline, Some(
      """WITH pts AS (
        |  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS x,
        |    CAST(FLOOR(c_acctbal * 100.0) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |grp AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pts GROUP BY x, y),
        |xm AS (SELECT x, MAX(y) AS ymx, MAX_BY(n, y) AS n
        |  FROM grp GROUP BY x),
        |mk AS (SELECT x, ymx, n,
        |    COALESCE(MAX(ymx) OVER (ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |      CAST(-9223372036854775807 AS BIGINT) - 1) AS m
        |  FROM xm)
        |SELECT x, ymx AS y, n FROM mk WHERE ymx > m
        |ORDER BY x""".stripMargin)),
    // From-scratch recompute over the final membership predicate —
    // equality proves base (+) signed-delta merge == full recompute.
    Query("rel_incr_agg_retract", incrAggRetract, Some(
      """SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders
        |WHERE (o_orderkey % 10 < 8 AND o_orderkey % 7 <> 0)
        |   OR o_orderkey % 10 >= 8
        |GROUP BY 1 HAVING COUNT(*) > 0 ORDER BY grp""".stripMargin)),
    Query("rel_ri_audit", riAudit, Some {
      def edge(name: String, childT: String, key: String,
          parentT: String, pkey: String): String =
        s"""SELECT '$name' AS fk,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $childT) AS n_child,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $childT c
           |   WHERE NOT EXISTS (SELECT 1 FROM $parentT p
           |     WHERE p.$pkey = c.$key)) AS n_orphans,
           |  (SELECT CAST(COUNT(DISTINCT $key) AS BIGINT) FROM $childT c
           |   WHERE NOT EXISTS (SELECT 1 FROM $parentT p
           |     WHERE p.$pkey = c.$key)) AS n_orphan_keys""".stripMargin
      val edges = Seq(
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"))
      s"""SELECT fk, n_child, n_orphans, n_orphan_keys,
         |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS INT) AS ok
         |FROM (${edges.mkString(" UNION ALL ")})
         |ORDER BY fk""".stripMargin
    }),
    Query("rel_benford", benford, Some(
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits),
        |terms AS (
        |  SELECT digit, n,
        |    CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |    ([0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
        |      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
        |      0.05799194697768673, 0.05115252244738129,
        |      0.04575749056067514])[digit] AS expected,
        |    total
        |  FROM digits CROSS JOIN tot),
        |t2 AS (SELECT digit, n, share, expected, share - expected AS dev,
        |  CAST(total AS DOUBLE) * (share - expected) * (share - expected)
        |    / expected AS chi_term
        |  FROM terms),
        |chi AS (SELECT list_reduce(list_prepend(0.0,
        |  list(chi_term ORDER BY chi_term)), (a, x) -> a + x) AS chi2
        |  FROM t2)
        |SELECT digit, n, share, expected, dev, chi_term, chi2
        |FROM t2 CROSS JOIN chi ORDER BY digit""".stripMargin)),
    Query("rel_psi_drift", psiDrift, Some(
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(date_part('day', ts) AS INT) <= 15 THEN 1
        |      ELSE 2 END AS period,
        |    least(CAST(floor(value / 50.0) AS INT), 9) AS band
        |  FROM events),
        |grid AS (
        |  SELECT event_type, band,
        |    CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(n1) AS BIGINT) AS t1,
        |  CAST(SUM(n2) AS BIGINT) AS t2, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM grid GROUP BY 1),
        |terms AS (
        |  SELECT g.event_type, g.band, g.n1, g.n2,
        |    CAST(g.n1 + 1 AS DOUBLE) / CAST(t.t1 + t.nb AS DOUBLE) AS p1,
        |    CAST(g.n2 + 1 AS DOUBLE) / CAST(t.t2 + t.nb AS DOUBLE) AS p2
        |  FROM grid g JOIN tot t USING (event_type)),
        |t2 AS (SELECT *, round((p2 - p1) * ln(p2 / p1), 6) AS contrib
        |  FROM terms),
        |psi AS (SELECT event_type, list_reduce(list_prepend(0.0,
        |  list(contrib ORDER BY contrib)), (a, x) -> a + x) AS psi
        |  FROM t2 GROUP BY event_type)
        |SELECT t2.event_type, band, n1, n2, p1, p2, contrib, psi
        |FROM t2 JOIN psi USING (event_type)
        |ORDER BY event_type, band""".stripMargin)),
    // INDEPENDENT boundary derivation: full-sort row_number at rank
    // k = ceil(0.2*i*n) per dimension (the Spark side locates the same
    // discrete order statistics via the bucketed cum >= k grid).
    Query("rel_rfm", rfm, Some(
      """WITH c AS (
        |  SELECT o_custkey, max(o_orderdate) AS lastd,
        |    CAST(COUNT(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS m
        |  FROM orders GROUP BY o_custkey),
        |ref AS (SELECT max(o_orderdate) AS mx FROM orders),
        |base AS (
        |  SELECT c.*, CAST(date_diff('day', lastd, mx) AS BIGINT) AS r
        |  FROM c, ref),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
        |ks AS (SELECT bi, (2 * bi * n + 9) // 10 AS k
        |  FROM (SELECT unnest([1,2,3,4]) AS bi) CROSS JOIN nn),
        |rr AS (SELECT r AS v, row_number() OVER (ORDER BY r) AS rn
        |  FROM base),
        |ff AS (SELECT f AS v, row_number() OVER (ORDER BY f) AS rn
        |  FROM base),
        |mm AS (SELECT m AS v, row_number() OVER (ORDER BY m) AS rn
        |  FROM base),
        |b AS (
        |  SELECT (SELECT list(rr.v ORDER BY ks.bi) FROM ks
        |      JOIN rr ON rr.rn = ks.k) AS rb,
        |    (SELECT list(ff.v ORDER BY ks.bi) FROM ks
        |      JOIN ff ON ff.rn = ks.k) AS fb,
        |    (SELECT list(mm.v ORDER BY ks.bi) FROM ks
        |      JOIN mm ON mm.rn = ks.k) AS mb),
        |scored AS (
        |  SELECT
        |    1 + (CASE WHEN r > rb[1] THEN 1 ELSE 0 END)
        |      + (CASE WHEN r > rb[2] THEN 1 ELSE 0 END)
        |      + (CASE WHEN r > rb[3] THEN 1 ELSE 0 END)
        |      + (CASE WHEN r > rb[4] THEN 1 ELSE 0 END) AS r_score,
        |    1 + (CASE WHEN f > fb[1] THEN 1 ELSE 0 END)
        |      + (CASE WHEN f > fb[2] THEN 1 ELSE 0 END)
        |      + (CASE WHEN f > fb[3] THEN 1 ELSE 0 END)
        |      + (CASE WHEN f > fb[4] THEN 1 ELSE 0 END) AS f_score,
        |    1 + (CASE WHEN m > mb[1] THEN 1 ELSE 0 END)
        |      + (CASE WHEN m > mb[2] THEN 1 ELSE 0 END)
        |      + (CASE WHEN m > mb[3] THEN 1 ELSE 0 END)
        |      + (CASE WHEN m > mb[4] THEN 1 ELSE 0 END) AS m_score,
        |    m
        |  FROM base, b)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        |  CAST(SUM(m) AS BIGINT) AS cents
        |FROM scored GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin)),
    Query("rel_cdc_history", cdcHistory, Some(
      """WITH log AS (
        |  SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op,
        |    o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, CAST(2 AS BIGINT), 'U', o_totalprice + 100.0
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(3 AS BIGINT), 'D', NULL
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |v AS (
        |  SELECT o_orderkey, seq, op, price,
        |    lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq)
        |      AS valid_to_seq
        |  FROM log)
        |SELECT o_orderkey, seq AS valid_from_seq, price, valid_to_seq,
        |  CASE WHEN valid_to_seq IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY o_orderkey, valid_from_seq""".stripMargin)),
    Query("rel_cdc_apply", cdcApply, Some(
      """WITH log AS (
        |  SELECT o_orderkey, 1 AS seq, 'I' AS op, o_totalprice AS price
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', o_totalprice + 100.0 FROM orders
        |  WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL FROM orders
        |  WHERE o_orderkey % 13 = 0)
        |SELECT o_orderkey, op AS last_op, price FROM (
        |  SELECT o_orderkey, op, price,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM log) t
        |WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin)),
    Query("q1_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    Query("q3_top_revenue", topRevenueOrders, Some(topRevenueOrdersSql)),
    Query("rel_scd2_merge", scd2Upsert, Some(scd2UpsertSql)),
    Query("rel_profile", profile, Some(
      (Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        .map(profileSqlFor).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")))),
    Query("rel_quality_report", qualityReport, Some(
      """SELECT * FROM (
        |SELECT 'lineitem.quantity_in_1_50' AS rule, COUNT(*) AS n_checked,
        |  COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS n_violations,
        |  CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) = 0 AS INT) AS passed
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.discount_le_0.06', COUNT(*),
        |  COUNT(*) FILTER (WHERE l_discount > 0.06),
        |  CAST(COUNT(*) FILTER (WHERE l_discount > 0.06) = 0 AS INT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.tax_non_negative', COUNT(*),
        |  COUNT(*) FILTER (WHERE l_tax < 0),
        |  CAST(COUNT(*) FILTER (WHERE l_tax < 0) = 0 AS INT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders.status_in_domain', COUNT(*),
        |  COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')),
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')) = 0 AS INT)
        |FROM orders
        |UNION ALL
        |SELECT 'orders.custkey_not_null', COUNT(*),
        |  COUNT(*) FILTER (WHERE o_custkey IS NULL),
        |  CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) = 0 AS INT)
        |FROM orders
        |UNION ALL
        |SELECT 'orders.orderkey_unique', COUNT(*),
        |  COUNT(*) - COUNT(DISTINCT o_orderkey),
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) = 0 AS INT)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem.orderkey_references_orders',
        |  (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |  CAST((SELECT COUNT(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0 AS INT)
        |) t ORDER BY rule""".stripMargin)),
    Query("join_pit", pointInTimeJoin, Some(
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    DATE '2024-01-01' AS valid_from, DATE '2200-01-01' AS valid_to,
        |    1 AS is_current
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey, 'UPGRADED' AS c_mktsegment,
        |    c_acctbal + 100.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 0),
        |scd AS (
        |  SELECT d.* FROM dim d
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
        |    DATE '2024-06-01' AS valid_to, 0 AS is_current
        |  FROM dim WHERE c_custkey IN (SELECT c_custkey FROM upd)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal, DATE '2024-06-01',
        |    DATE '2200-01-01', 1 FROM upd),
        |facts AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 2 = 0
        |      THEN CAST(ts AS DATE) + INTERVAL 150 DAY
        |      ELSE CAST(ts AS DATE) END AS day
        |  FROM events)
        |SELECT c_mktsegment, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM facts f JOIN scd s
        |  ON f.user_id = s.c_custkey
        | AND CAST(f.day AS DATE) >= s.valid_from
        | AND CAST(f.day AS DATE) < s.valid_to
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("rel_diff", snapshotDiff, Some(
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |a AS (SELECT * FROM o WHERE o_orderkey % 13 <> 0),
        |b AS (SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 19 = 0 THEN 'X'
        |         ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 17 <> 0)
        |SELECT * FROM (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_orderkey IS NULL THEN 'removed'
        |         WHEN concat_ws(',',
        |           CASE WHEN a.o_custkey <> b.o_custkey THEN 'o_custkey' END,
        |           CASE WHEN a.o_orderstatus <> b.o_orderstatus
        |             THEN 'o_orderstatus' END,
        |           CASE WHEN a.o_totalprice <> b.o_totalprice
        |             THEN 'o_totalprice' END) <> ''
        |         THEN 'changed' ELSE 'same' END AS status,
        |    concat_ws(',',
        |      CASE WHEN a.o_custkey <> b.o_custkey THEN 'o_custkey' END,
        |      CASE WHEN a.o_orderstatus <> b.o_orderstatus
        |        THEN 'o_orderstatus' END,
        |      CASE WHEN a.o_totalprice <> b.o_totalprice
        |        THEN 'o_totalprice' END) AS changed_cols
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey) t
        |WHERE status <> 'same' ORDER BY o_orderkey""".stripMargin)),
    Query("rel_skew_report", skewReport, Some(
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events) AS share
        |FROM events GROUP BY user_id
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin)),
    Query("rel_mom_growth", momGrowth, Some(
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT month, n_orders, cents,
        |  lag(cents, 1) OVER (ORDER BY month) AS prev_cents,
        |  (CAST(cents AS DOUBLE)
        |    / CAST(lag(cents, 1) OVER (ORDER BY month) AS DOUBLE)) - 1.0
        |    AS mom_growth
        |FROM m ORDER BY month""".stripMargin)),
    Query("rel_fk_discovery", fkDiscovery, Some(
      (Seq(
        ("l_orderkey->o_orderkey", "l_orderkey", "lineitem", "o_orderkey", "orders"),
        ("l_partkey->p_partkey", "l_partkey", "lineitem", "p_partkey", "part"),
        ("l_suppkey->s_suppkey", "l_suppkey", "lineitem", "s_suppkey", "supplier"),
        ("o_custkey->c_custkey", "o_custkey", "orders", "c_custkey", "customer"),
        ("o_orderkey->c_custkey", "o_orderkey", "orders", "c_custkey", "customer"))
        .map { case (name, cc, ct, pc, pt) =>
          s"""SELECT '$name' AS candidate, n_child_distinct, n_missing,
             |  CAST(n_child_distinct - n_missing AS DOUBLE)
             |    / CAST(n_child_distinct AS DOUBLE) AS containment
             |FROM (
             |  SELECT COUNT(*) AS n_child_distinct,
             |    CAST(SUM(CASE WHEN v NOT IN (SELECT $pc FROM $pt)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
             |  FROM (SELECT DISTINCT $cc AS v FROM $ct) c) t""".stripMargin }
        .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")))),
    Query("rel_incr_join", incrementalJoin, Some(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("rel_incr_agg", incrementalAgg, Some(
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("rel_checksums", tableChecksums, Some(
      (checksumSqlFor("region",
        "CAST(r_regionkey AS VARCHAR), r_name") + "\nUNION ALL\n" +
       checksumSqlFor("nation",
        "CAST(n_nationkey AS VARCHAR), n_name, CAST(n_regionkey AS VARCHAR)") +
       "\nUNION ALL\n" +
       checksumSqlFor("supplier",
        "CAST(s_suppkey AS VARCHAR), s_name, CAST(s_nationkey AS VARCHAR), " +
          "CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS VARCHAR)") +
       "\nORDER BY table_name"))),
  )
}
