package graft.api

import graft.ops.{Aggs, Relational}
import graft.pii.PiiQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data GOVERNANCE audit rollup: the checks a lake owner runs before
  * certifying a dataset, folded into one release-note verdict row per
  * audit — the shape a CI gate consumes. The audits themselves are the
  * oracle-gated queries: referential integrity (`rel_ri_audit`,
  * [[Relational.riAudit]]), PII discovery (`pii_scan_report`,
  * [[PiiQueries.scanReport]]), distribution drift (`rel_psi_drift`,
  * [[Relational.psiDrift]]) and categorical independence
  * (`agg_chi_square`, [[Aggs.chiSquare]]).
  *
  * Scale census: every audit is an independent aggregate/anti-join over
  * its own table — a scheduler fans them out; `summary` touches only the
  * already-reduced audit outputs. */
object AuditPipeline {

  /** One verdict row per audit: (audit, n_findings, worst, passed) —
    * the CI-gate rollup. Thresholds are the caller's policy; these
    * defaults flag any FK orphan, any ≥10%-hit PII detector, PSI ≥ 0.2
    * (the industry "significant shift" bar), and χ² per-cell
    * contributions ≥ 25. */
  def summary(s: SparkSession, dir: String): DataFrame = {
    def row(name: String, findings: DataFrame, bad: Column,
        worst: Column): DataFrame =
      findings.agg(
        // coalesce: an EMPTY audit table aggregates to NULL, which must
        // read as "0 findings, passed" (vacuously clean), not as a
        // failed audit with null counts
        coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).cast("long")
          .as("n_findings"),
        max(worst).as("worst"))
        .select(lit(name).as("audit"), col("n_findings"),
          col("worst").cast("double").as("worst"),
          when(col("n_findings") === 0, 1).otherwise(0).cast("int")
            .as("passed"))
    row("referential_integrity", Relational.riAudit(s, dir),
        col("ok") === 0, col("n_orphans"))
      .unionByName(row("pii_scan", PiiQueries.scanReport(s, dir),
        col("flagged") === 1, col("hit_rate")))
      .unionByName(row("psi_drift", Relational.psiDrift(s, dir),
        col("psi") >= 0.2, col("psi")))
      .unionByName(row("chi_square", Aggs.chiSquare(s, dir),
        col("contrib") >= 25.0, col("contrib")))
      .orderBy(col("audit"))
  }
}
