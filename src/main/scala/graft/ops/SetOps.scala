package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sorts, limits, set operations, distinct (SURVEY.md §2.3/§2.7). */
object SetOps extends QueryModule {

  private def custkeysIn(s: SparkSession, d: String, year: Int): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit(f"$year-01-01").cast("timestamp_ntz") &&
              col("o_orderdate") < lit(f"${year + 1}-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey"))

  /** INTERSECT: customers ordering in both 1996 and 1997. */
  def intersectYears(s: SparkSession, d: String): DataFrame =
    custkeysIn(s, d, 1996).intersect(custkeysIn(s, d, 1997))
      .orderBy(col("o_custkey"))

  /** EXCEPT: 1996 customers who skipped 1997. */
  def exceptYears(s: SparkSession, d: String): DataFrame =
    custkeysIn(s, d, 1996).except(custkeysIn(s, d, 1997))
      .orderBy(col("o_custkey"))

  /** INTERSECT ALL (multiset semantics — preserves duplicate counts). */
  def intersectAllYears(s: SparkSession, d: String): DataFrame =
    custkeysIn(s, d, 1996).intersectAll(custkeysIn(s, d, 1997))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("o_custkey"))

  /** EXCEPT ALL (multiset difference — each 1997 order cancels ONE 1996
    * order of the same customer; survivors keep their residual count). */
  def exceptAllYears(s: SparkSession, d: String): DataFrame =
    custkeysIn(s, d, 1996).exceptAll(custkeysIn(s, d, 1997))
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("o_custkey"))

  /** UNION (distinct) across differently-shaped inputs via unionByName. */
  def unionNationKeys(s: SparkSession, d: String): DataFrame = {
    val a = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"),
      lit("supplier").as("side"))
    val b = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"),
      lit("customer").as("side"))
    a.unionByName(b).distinct().orderBy(col("nationkey"), col("side"))
  }

  /** Multi-key global sort + limit → TakeOrderedAndProject (no full sort at
    * scale: each partition keeps k, merge at driver). */
  def sortLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderstatus").asc, col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** DISTINCT on a projection. */
  def distinctFlags(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Partition-local sort (§2.7): hash-repartition on the key, then
    * `sortWithinPartitions` — Exchange + per-partition SortExec with NO
    * global range exchange, the shape used to prep clustered writes and
    * merge-friendly downstream reads at 100 TB. The driver's comparer is
    * order-insensitive, so the oracle checks content; SetOpsSpec asserts
    * the per-partition ordering itself. */
  def partitionLocalSort(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .repartition(8, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"), col("o_orderkey"))

  /** TABLESAMPLE (§2.7 adjunct): seeded Bernoulli sample pushed into the
    * scan (SampleExec over the file scan — no full materialization), then
    * a per-flag count. Deterministic for a fixed seed + partitioning;
    * registered rows-only (the sampled subset is engine-specific by
    * design) with determinism + fraction accuracy pinned in SetOpsSpec. */
  def tableSample(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("l_returnflag"))

  /** Stratified sampling (`sampleBy`): per-stratum Bernoulli fractions —
    * the rebalancing primitive for skewed training corpora (downsample the
    * dominant language, keep the rest). Map-only: a seeded rand filter per
    * row, no shuffle before the count. Rows-only gate; determinism and
    * per-stratum fraction bands pinned in Round3Spec. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .stat.sampleBy("lang",
        Map("en" -> 0.25, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0),
        seed = 42L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("lang"))

  /** Predicate battery: IN / BETWEEN / LIKE / null-safe equality — all
    * pushed to the parquet scan. */
  def predicateBattery(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(
        col("p_size").isin(5, 10, 15, 20) &&
        col("p_retailprice").between(901.0, 1e9) &&
        col("p_name").like("%o%") &&
        col("p_brand") <=> col("p_brand"))
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_partkey"))

  /** Neyman optimal allocation for stratified sampling: given a total
    * budget of 1000 draws, allocate n_h ∝ N_h·S_h (stratum size × stddev)
    * — the survey-design readout that makes [[stratifiedSample]]'s
    * fractions principled. Per-stratum variances come from exact BIGINT
    * cent moments (one division each); the allocation denominator
    * Σ N_h·S_h folds the ≤|brands| per-stratum terms in ascending value
    * order (the chi-square pin) so every float is bit-identical across
    * engines; the final allocation is a floor to integer draws. */
  def neymanAlloc(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_brand"),
        floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("y"))
    // Squared-cents moments go through DECIMAL(18,0)² = (37,0) before the
    // sum (the agg_anova_f discipline): a plain BIGINT sum(y·y) silently
    // wraps past 2^63 on a large stratum while DuckDB promotes to HUGEINT.
    // n·Σy² − (Σy)² stays in exact decimal to the single double division.
    val g = p.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_h"),
        sum(col("y").cast("decimal(20,0)")).cast("decimal(38,0)").as("sy"),
        sum(col("y").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("syy"))
      .select(col("p_brand"), col("n_h"),
        ((col("n_h") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("n_h") * col("n_h")).cast("double")).as("var_h"))
      .withColumn("nsh", col("n_h").cast("double") * sqrt(col("var_h")))
    val denom = g.agg(aggregate(array_sort(collect_list(col("nsh"))),
      lit(0.0), (a, x) => a + x).as("denom"))
    g.crossJoin(broadcast(denom))
      .select(col("p_brand"), col("n_h"), col("var_h"), col("nsh"),
        floor(lit(1000.0) * col("nsh") / col("denom")).cast("long")
          .as("alloc"))
      .orderBy(col("p_brand"))
  }

  private val y96 =
    "SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
  private val y97 =
    "SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"

  override def catalog: Seq[Query] = Seq(
    Query("set_neyman_alloc", neymanAlloc, Some(
      """WITH p AS MATERIALIZED (
        |  SELECT p_brand,
        |    CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM part),
        |g AS MATERIALIZED (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_h,
        |    CAST(CAST(COUNT(*) AS BIGINT) * CAST(SUM(y * y) AS BIGINT) -
        |      CAST(SUM(y) AS BIGINT) * CAST(SUM(y) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(COUNT(*) AS BIGINT) * CAST(COUNT(*) AS BIGINT)
        |      AS DOUBLE) AS var_h
        |  FROM p GROUP BY 1),
        |g2 AS MATERIALIZED (
        |  SELECT *, CAST(n_h AS DOUBLE) * SQRT(var_h) AS nsh FROM g),
        |dn AS (SELECT list_reduce(list_prepend(0.0, list(nsh ORDER BY nsh)),
        |  (a, x) -> a + x) AS denom FROM g2)
        |SELECT p_brand, n_h, var_h, nsh,
        |  CAST(FLOOR(1000.0 * nsh / denom) AS BIGINT) AS alloc
        |FROM g2 CROSS JOIN dn ORDER BY p_brand""".stripMargin)),
    Query("set_intersect", intersectYears, Some(
      s"SELECT o_custkey FROM ($y96 INTERSECT $y97) ORDER BY o_custkey")),
    Query("set_except", exceptYears, Some(
      s"SELECT o_custkey FROM ($y96 EXCEPT $y97) ORDER BY o_custkey")),
    Query("set_intersect_all", intersectAllYears, Some(
      s"""SELECT o_custkey, COUNT(*) AS multiplicity
         |FROM ($y96 INTERSECT ALL $y97)
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    Query("set_except_all", exceptAllYears, Some(
      s"""SELECT o_custkey, COUNT(*) AS multiplicity
         |FROM ($y96 EXCEPT ALL $y97)
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    Query("set_union_by_name", unionNationKeys, Some(
      """SELECT nationkey, side FROM (
        |  SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
        |  UNION
        |  SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer)
        |ORDER BY nationkey, side""".stripMargin)),
    Query("sort_limit", sortLimit, Some(
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)),
    Query("distinct_flags", distinctFlags, Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("sort_within_partitions", partitionLocalSort, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders""".stripMargin)),
    // Rows-only: seeded sampling is engine-specific by design; properties
    // pinned in specs.
    Query("set_tablesample", tableSample, None),
    Query("set_stratified_sample", stratifiedSample, None),
    Query("filter_battery", predicateBattery, Some(
      """SELECT p_partkey, p_name, p_size, p_retailprice FROM part
        |WHERE p_size IN (5, 10, 15, 20)
        |  AND p_retailprice BETWEEN 901.0 AND 1e9
        |  AND p_name LIKE '%o%'
        |  AND p_brand IS NOT DISTINCT FROM p_brand
        |ORDER BY p_partkey""".stripMargin)),
  )
}
