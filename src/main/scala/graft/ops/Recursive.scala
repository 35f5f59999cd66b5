package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Recursive CTE (`WITH RECURSIVE` → Catalyst `UnionLoop`) and
  * order-sensitive string aggregation (`LISTAGG ... WITHIN GROUP`) — the two
  * SQL-completeness families Spark gained in 4.x that the catalog did not
  * yet exercise (SURVEY.md §2.8 SQL shapes).
  *
  * Scale posture: recursion in Spark executes as an iterative union loop —
  * each step is a full distributed plan over the previous step's output, so
  * the 100-TB question is "how many iterations and how big is the frontier".
  * Both queries here keep the frontier linear in the input (date spine: one
  * row per day; key chain: one row per live customer per level, depth
  * log10(maxkey) ≈ 6) and the per-step plan is map-only or a keyed agg.
  * A recursion whose frontier *grows* (graph closure on a dense graph) is
  * the anti-pattern — that path is served by the bounded iterative joins in
  * `graft.ops.Graph` (PageRank) and `LlmDedup.connectedComponents`
  * (pointer-jumping, O(log d) rounds), not by an unbounded CTE.
  */
object Recursive extends QueryModule {

  /** Recursive date spine (1995 Q1, 90 iterations of a 1-row-per-day
    * frontier) LEFT-joined to per-day order counts. Orders aggregate to ≤
    * one row per day BEFORE the join, so the join input is tiny on both
    * sides and broadcastable regardless of fact scale. Money in integer
    * cents (exact on both engines). */
  def recursiveSeries(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """WITH RECURSIVE spine(day) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT day + INTERVAL '1' DAY FROM spine WHERE day < DATE '1995-03-31'
        |),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
        |  GROUP BY CAST(o_orderdate AS DATE))
        |SELECT spine.day AS day, COALESCE(daily.n, 0) AS n_orders,
        |  COALESCE(daily.cents, 0) AS total_cents
        |FROM spine LEFT JOIN daily ON daily.od = spine.day
        |ORDER BY day""".stripMargin)

  /** Recursive key-chain walk: parent(k) = k div 10, root 0 — an org-chart /
    * BOM-style closure with frontier = live customers per level and depth
    * bounded by log10(max key) (≈6 at any sf; the frontier only shrinks as
    * keys reach 0). Aggregates the whole path per starting customer. */
  def recursiveChain(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """WITH RECURSIVE chain(c_custkey, node, depth) AS (
        |  SELECT c_custkey, c_custkey AS node, 0 AS depth FROM customer
        |  UNION ALL
        |  SELECT c_custkey, node DIV 10, depth + 1 FROM chain WHERE node > 0
        |)
        |SELECT c_custkey, MAX(depth) AS depth_to_root,
        |  CAST(SUM(node) AS BIGINT) AS path_sum
        |FROM chain GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)

  /** LISTAGG with WITHIN GROUP ordering — deterministic order-sensitive
    * concatenation (DuckDB twin: `string_agg(... ORDER BY ...)`). The
    * sampled key filter bounds every group (≤ a few dozen names) so the
    * concatenated value stays small at any corpus scale; an unbounded
    * LISTAGG is the same OOM shape as an unbounded collect_list and is the
    * documented anti-pattern. */
  def listAgg(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT c_mktsegment,
        |  listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name) AS names,
        |  COUNT(*) AS n
        |FROM customer WHERE c_custkey % 100 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  override def catalog: Seq[Query] = Seq(
    // DuckDB DATE + INTERVAL yields TIMESTAMP — cast back to DATE inside the
    // recursive step so the spine column stays DATE on both engines.
    Query("sql_recursive_series", recursiveSeries, Some(
      """WITH RECURSIVE spine(day) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM spine
        |  WHERE day < DATE '1995-03-31'
        |),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
        |  GROUP BY CAST(o_orderdate AS DATE))
        |SELECT spine.day AS day, COALESCE(daily.n, 0) AS n_orders,
        |  COALESCE(daily.cents, 0) AS total_cents
        |FROM spine LEFT JOIN daily ON daily.od = spine.day
        |ORDER BY day""".stripMargin)),
    Query("sql_recursive_chain", recursiveChain, Some(
      """WITH RECURSIVE chain(c_custkey, node, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT c_custkey, node // 10, depth + 1 FROM chain WHERE node > 0
        |)
        |SELECT c_custkey, MAX(depth) AS depth_to_root,
        |  CAST(SUM(node) AS BIGINT) AS path_sum
        |FROM chain GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    Query("agg_listagg", listAgg, Some(
      """SELECT c_mktsegment,
        |  string_agg(c_name, ',' ORDER BY c_name) AS names,
        |  COUNT(*) AS n
        |FROM customer WHERE c_custkey % 100 = 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
  )
}
