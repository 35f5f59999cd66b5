package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Classic OLAP query shapes (TPC-H Q4/Q7/Q8/Q10/Q14/Q17/Q19/Q22 adapted to
  * the fixture's trimmed schema — no partsupp, no commitdate/shipmode), all
  * through the SQL entry path so Catalyst's parser + decorrelation + join
  * reorder are exercised end-to-end (SURVEY.md §2.8 SQL shapes family).
  *
  * Scale posture per query is noted inline; the common pattern: fact-side
  * scans shuffle once on the join key, dimension sides broadcast, EXISTS /
  * NOT EXISTS decorrelate to semi/anti hash joins, and scalar subqueries
  * become one broadcast row — no per-row subquery execution anywhere.
  *
  * Float parity with the DuckDB oracle follows the repo recipe: money math
  * in exact DECIMAL (emitted via string→double) or integer cents
  * (`floor(x*100+0.5)`); ratios as one double division of exact integers —
  * IEEE division is correctly rounded, so both engines produce the same
  * bits. */
object TpchShapes extends QueryModule {

  /** Q4 shape — order-priority checking: EXISTS(late line) decorrelates to
    * a left-semi hash join on l_orderkey; the date filter prunes orders
    * before the join. One shuffle each side, tiny output. */
  def q4(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL '30' DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)

  /** Q7 shape — volume shipping between two nations: the nation pair
    * predicate lands on two broadcast copies of `nation`; lineitem joins
    * orders/supplier on their keys (shuffle), then aggregates by
    * (supp_nation, cust_nation, year) — a handful of groups. */
  def q7(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(SUM(vol) AS STRING) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l.l_shipdate) AS l_year,
        |    CAST(l.l_extendedprice AS DECIMAL(12,4))
        |      * CAST(1.0 - l.l_discount AS DECIMAL(8,4)) AS vol
        |  FROM supplier s
        |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
        |     OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20')) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  /** Q8 shape — market share of one supplier nation within a customer
    * region, per order year. Revenue in integer cents so the share is one
    * double division of exact BIGINTs (bit-identical across engines). */
  def q8(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
        |    AS BIGINT) AS nation_cents,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(SUM(cents) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT year(o.o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |      AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  JOIN region r ON n2.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  WHERE r.r_name = 'ASIA') t
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin)

  /** Q10 shape — returned-item reporting: top-20 customers by revenue lost
    * to returns in one quarter. The HAVING-free aggregate shrinks to one
    * row per customer before the global top-20 (TakeOrderedAndProject —
    * no full sort). Decimal-exact revenue makes the cutoff deterministic. */
  def q10(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l.l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE)
        |    AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l.l_discount AS DECIMAL(8,4))) DESC, c.c_custkey
        |LIMIT 20""".stripMargin)

  /** Q14 shape — promo revenue share in one month: single-row CASE-ratio
    * aggregate; cents + one double division as in Q8. The part join
    * broadcasts (dimension side). */
  def q14(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |    AS BIGINT) AS promo_cents,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(SUM(cents) AS DOUBLE)) AS promo_pct
        |FROM (
        |  SELECT p.p_type,
        |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |      AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00') t""".stripMargin)

  /** Q17 shape — small-quantity-order revenue: correlated scalar AVG
    * subquery per part, decorrelated by Catalyst into an aggregate + join
    * on l_partkey. Quantities are integral doubles, so SUM/COUNT and the
    * 0.2× threshold are add-order-free and bit-identical. */
  def q17(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT p.p_brand,
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS STRING)
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND l.l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(l2.l_quantity) AS DOUBLE) / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin)

  /** Q19 shape — disjunctive band predicates (brand × size × quantity):
    * Catalyst pushes the OR-of-ANDs below the join and prunes part columns;
    * the surviving predicate set is a bitmap-style multi-range scan. */
  def q19(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l.l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
        |        AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
        |        AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
        |        AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)

  /** Q22 shape — above-average balances with no high-value orders:
    * global-average scalar subquery (one broadcast row) + NOT EXISTS anti
    * join; the country-code stand-in is `c_custkey % 7`. (Classic Q22 uses
    * "no orders at all", which is empty on this fixture — every customer
    * orders — so the anti-join predicate is price-scoped instead, the same
    * 400k idiom as `sql_exists_shape`.) Balance math in integer cents; the
    * threshold is one double division of exact BIGINTs. */
  def q22(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """WITH c AS (
        |  SELECT c_custkey, c_custkey % 7 AS cntrycode,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |t AS (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS thr
        |      FROM c WHERE cents > 0)
        |SELECT cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM c CROSS JOIN t
        |WHERE CAST(cents AS DOUBLE) > thr
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)

  /** Q2 shape — min-cost supplier. The fixture has no `partsupp`, so the
    * part-supplier cost relation is derived from lineitem: unit price =
    * min(extendedprice/quantity) in integer cents per (part, supplier) —
    * same correlated-MIN-per-part decorrelation as classic Q2. The
    * region-filtered cost CTE is referenced twice (outer join + correlated
    * MIN); Catalyst decorrelates the scalar subquery into an aggregate
    * joined on p_partkey, so the plan is two shuffles over the derived cost
    * table, never a per-row subquery. */
  def q2(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q2Sql)

  /** Q6 shape — forecasting revenue change: pure scan-filter-aggregate, no
    * join. The three pushed predicates (date range, discount band, quantity
    * cap) all reach the parquet scan; revenue in integer cents so the
    * single-row sum is bit-exact. The simplest query in the set — and the
    * one where pushdown matters most at 100 TB (row-group min/max skipping
    * does almost all the work). */
  def q6(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q6Sql)

  /** Q9 shape — product-type profit by nation × year. No `partsupp`
    * supplycost either, so cost is proxied as 10% of `p_retailprice` (in
    * integer cents — the economics differ from stock Q9, the plan shape
    * does not). lineitem shuffles once on each fact join key; part /
    * supplier / nation broadcast; profit = revenue_cents − cost_cents is
    * all-integer so SUM is add-order-free. */
  def q9(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q9Sql)

  /** Q12 shape — shipping-mode priority counts. The fixture has no
    * l_shipmode/commitdate/receiptdate; l_linestatus stands in as the mode
    * and `l_shipdate > o_orderdate` as the lateness ordering predicate.
    * The CASE-count pivot (high/low priority per group) is the point of
    * the shape: conditional aggregation after a fact-fact join, two output
    * rows. */
  def q12(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q12Sql)

  /** Q13 shape — customer order-count distribution: LEFT OUTER join with
    * the filter in the JOIN CONDITION (not WHERE — customers with zero
    * qualifying orders must survive with c_count = 0), then a second
    * aggregate over the first. Two shuffles: o_custkey, then c_count. */
  def q13(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q13Sql)

  /** Q15 shape — top supplier by quarterly revenue: the revenue CTE is an
    * aggregate view consumed twice (join + MAX scalar subquery). The MAX
    * side collapses to one broadcast row; integer cents make the
    * max-equality cut exact, so ties (if any) all surface — no
    * LIMIT-by-float nondeterminism. */
  def q15(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q15Sql)

  /** Q16 shape — supplier-count by part attribute with a NOT IN exclusion
    * list. The part-supplier relation is the DISTINCT (l_partkey,
    * l_suppkey) projection of lineitem (fixture has no partsupp). NOT IN
    * over a non-nullable key plans as a null-aware anti join against a
    * broadcast exclusion set; COUNT(DISTINCT) adds the usual two-phase
    * expand — all linear in the pair table. */
  def q16(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q16Sql)

  /** Q20 shape — dominant-supplier selection: IN over a grouped subquery
    * whose HAVING compares the group's own sum against a correlated
    * per-part total (stock Q20's excess-stock predicate re-expressed
    * without partsupp: "supplier ships > 12% of a part's volume").
    * Catalyst decorrelates the HAVING scalar into a per-part aggregate
    * joined back on l_partkey, and the IN becomes a left-semi hash join —
    * three aggregates, zero per-row subqueries. Quantities are integral
    * doubles, so both sums and the 0.12× threshold are bit-exact. */
  def q20(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d, q20Sql)

  /** The SQL for the round-7b shapes is engine-shared: every string below
    * is valid and value-identical in BOTH Spark SQL and DuckDB (integer
    * cents everywhere, no STRING/VARCHAR casts, shared function subset), so
    * the oracle twin IS the query text. */
  private val q2Sql =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(CAST(floor(l_extendedprice / l_quantity * 100.0 + 0.5)
      |      AS BIGINT)) AS unit_cents
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |eu AS (
      |  SELECT t.l_partkey, t.l_suppkey, t.unit_cents, s.s_name, n.n_name
      |  FROM cost t
      |  JOIN supplier s ON s.s_suppkey = t.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  WHERE r.r_name = 'EUROPE')
      |SELECT p.p_partkey, p.p_name, e.s_name, e.n_name, e.unit_cents
      |FROM part p
      |JOIN eu e ON e.l_partkey = p.p_partkey
      |WHERE p.p_size BETWEEN 1 AND 10
      |  AND e.unit_cents = (SELECT MIN(e2.unit_cents) FROM eu e2
      |    WHERE e2.l_partkey = p.p_partkey)
      |ORDER BY e.unit_cents, p.p_partkey, e.s_name
      |LIMIT 100""".stripMargin

  private val q6Sql =
    """SELECT
      |  CAST(SUM(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5)
      |    AS BIGINT)) AS BIGINT) AS revenue_cents,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  private val q9Sql =
    """SELECT nation, o_year,
      |  CAST(SUM(amount_cents) AS BIGINT) AS profit_cents,
      |  COUNT(*) AS n_lines
      |FROM (
      |  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
      |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
      |      AS BIGINT)
      |      - CAST(floor(p.p_retailprice * 10.0 + 0.5) AS BIGINT)
      |        * CAST(l.l_quantity AS BIGINT) AS amount_cents
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  WHERE p.p_name LIKE '%gear%') t
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  private val q12Sql =
    """SELECT l.l_linestatus,
      |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l.l_shipdate > o.o_orderdate
      |GROUP BY l.l_linestatus
      |ORDER BY l.l_linestatus""".stripMargin

  private val q13Sql =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |    AND o.o_orderpriority <> '5-LOW'
      |  GROUP BY c.c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  private val q15Sql =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
      |      + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, r.total_cents
      |FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
      |WHERE r.total_cents = (SELECT MAX(total_cents) FROM rev)
      |ORDER BY s.s_suppkey""".stripMargin

  private val q16Sql =
    """SELECT p.p_brand, p.p_type, p.p_size,
      |  COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part p ON p.p_partkey = ps.l_partkey
      |WHERE p.p_brand <> 'Brand#1'
      |  AND p.p_size IN (1, 5, 11, 15, 23, 28, 37, 42)
      |  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |    WHERE s_acctbal < 0.0)
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""".stripMargin

  private val q20Sql =
    """SELECT s.s_suppkey, s.s_name, n.n_name
      |FROM supplier s
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE s.s_suppkey IN (
      |  SELECT l.l_suppkey
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE p.p_name LIKE 'small%'
      |  GROUP BY l.l_suppkey, l.l_partkey
      |  HAVING SUM(l.l_quantity) > 0.12 * (
      |    SELECT SUM(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = l.l_partkey))
      |ORDER BY s.s_suppkey""".stripMargin

  /** EXISTS used as a VALUE (not a filter): segment × has-big-order
    * counts. Catalyst plans the non-filtering EXISTS as an ExistenceJoin —
    * a semi join that emits a boolean instead of dropping rows — the third
    * decorrelation form after left-semi (Q4) and left-anti (Q22). One hash
    * join + one aggregate; no per-row subquery. */
  def existsFlag(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT c_mktsegment,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |    THEN 1 ELSE 0 END AS has_big_order,
        |  COUNT(*) AS n_customers
        |FROM customer c
        |GROUP BY c_mktsegment,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |    THEN 1 ELSE 0 END
        |ORDER BY c_mktsegment, has_big_order""".stripMargin)

  override def catalog: Seq[Query] = Seq(
    Query("sql_q2_shape", q2, Some(q2Sql)),
    Query("sql_q6_shape", q6, Some(q6Sql)),
    Query("sql_q9_shape", q9, Some(q9Sql)),
    Query("sql_q12_shape", q12, Some(q12Sql)),
    Query("sql_q13_shape", q13, Some(q13Sql)),
    Query("sql_q15_shape", q15, Some(q15Sql)),
    Query("sql_q16_shape", q16, Some(q16Sql)),
    Query("sql_q20_shape", q20, Some(q20Sql)),
    Query("sql_exists_flag", existsFlag, Some(
      """SELECT c_mktsegment,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |    THEN 1 ELSE 0 END AS has_big_order,
        |  COUNT(*) AS n_customers
        |FROM customer c
        |GROUP BY c_mktsegment,
        |  CASE WHEN EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |    THEN 1 ELSE 0 END
        |ORDER BY c_mktsegment, has_big_order""".stripMargin)),
    Query("sql_q4_shape", q4, Some(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL '30' DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Query("sql_q7_shape", q7, Some(
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(SUM(vol) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l.l_shipdate) AS l_year,
        |    CAST(l.l_extendedprice AS DECIMAL(12,4))
        |      * CAST(1.0 - l.l_discount AS DECIMAL(8,4)) AS vol
        |  FROM supplier s
        |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_20' AND n2.n_name = 'NATION_11')
        |     OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_20')) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    Query("sql_q8_shape", q8, Some(
      """SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
        |    AS BIGINT) AS nation_cents,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(SUM(cents) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT year(o.o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |      AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  JOIN region r ON n2.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  WHERE r.r_name = 'ASIA') t
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin)),
    Query("sql_q10_shape", q10, Some(
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l.l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE)
        |    AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l.l_discount AS DECIMAL(8,4))) DESC, c.c_custkey
        |LIMIT 20""".stripMargin)),
    Query("sql_q14_shape", q14, Some(
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |    AS BIGINT) AS promo_cents,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents,
        |  100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(SUM(cents) AS DOUBLE)) AS promo_pct
        |FROM (
        |  SELECT p.p_type,
        |    CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
        |      AS BIGINT) AS cents
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |    AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00') t""".stripMargin)),
    Query("sql_q17_shape", q17, Some(
      """SELECT p.p_brand,
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS VARCHAR)
        |    AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND l.l_quantity < (
        |    SELECT 0.2 * (CAST(SUM(l2.l_quantity) AS DOUBLE) / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin)),
    Query("sql_q19_shape", q19, Some(
      """SELECT
        |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l.l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
        |        AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
        |        AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
        |        AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    Query("sql_q22_shape", q22, Some(
      """WITH c AS (
        |  SELECT c_custkey, c_custkey % 7 AS cntrycode,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |t AS (SELECT CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS thr
        |      FROM c WHERE cents > 0)
        |SELECT cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM c CROSS JOIN t
        |WHERE CAST(cents AS DOUBLE) > thr
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)),
  )
}
