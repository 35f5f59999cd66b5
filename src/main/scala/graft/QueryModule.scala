package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered query: its Spark form and, when SQL-expressible, the
  * DuckDB-dialect twin the oracle compares it with. `oracle = None` marks a
  * rows-only query (COVERAGE.md names the test that gates each one). */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** One §2-category worth of registered queries. `SparkEntry` concatenates
  * every module's catalog; names are globally unique (asserted by
  * ContractSpec). */
trait QueryModule {
  def catalog: Seq[Query]
}

/** Shared helpers for oracle-safe (hash-matchable) query results.
  *
  * t2 hazards these address (SURVEY.md §5.3):
  *  - double sums are float-order-dependent → sum via exact DECIMAL, cast the
  *    exact result to double (deterministic nearest-double on both engines);
  *  - raw timestamps diverge (ns vs µs, LTZ vs NTZ annotations) → emit dates
  *    or strings, never raw timestamps;
  *  - row order → every registered query ends in a total ORDER BY.
  */
object OracleSafe {
  /** decimal → double routed through a string. DuckDB's direct
    * decimal→double cast is NOT correctly rounded (scaled-int × 10^-s, two
    * roundings — observed 1-ulp misses); both engines' string→double parse
    * IS correctly rounded, so exact-decimal → string → double is
    * bit-identical across engines. */
  def d2d(c: Column): Column = c.cast("string").cast("double")

  /** Exact money sum: cast to DECIMAL(18,4) pre-sum, back to double post-sum.
    * Bit-identical across Spark and DuckDB regardless of add order. */
  def dsum(c: Column): Column = d2d(sum(c.cast("decimal(18,4)")))

  /** Exact sum of a product of a money column (< 10^8, 2-dp) and a small
    * factor like (1-discount) (< 10^4, 2-dp). Types are kept narrow —
    * (12,4)*(8,4)=(21,8), *(8,4)=(30,12) — so even the triple product stays
    * inside precision 38 with NO rounding in either engine; a (18,4)^3
    * product would overflow 38 and round differently in Spark vs DuckDB. */
  def dsum2(a: Column, b: Column): Column =
    d2d(sum(a.cast("decimal(12,4)") * b.cast("decimal(8,4)")))

  def dsum3(a: Column, b: Column, c: Column): Column =
    d2d(sum(a.cast("decimal(12,4)") * b.cast("decimal(8,4)") * c.cast("decimal(8,4)")))

  /** Exact-decimal average, materialized as double sum / count (IEEE division
    * of identical operands is bit-identical on both engines). */
  def davg(c: Column): Column =
    d2d(sum(c.cast("decimal(18,4)"))) / count(c)

  /** DuckDB twin of `d2d(SUM(expr))` for oracle SQL strings. */
  def sqlDsum(expr: String): String =
    s"CAST(CAST(SUM($expr) AS VARCHAR) AS DOUBLE)"
}
