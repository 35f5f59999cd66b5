package graft.api

import graft.ops.LlmDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tunables for [[DedupPipeline]].
  *
  * @param threshold exact trigram-Jaccard a candidate pair must clear to
  *                  become a dedup edge (0.5 = the usual near-dup bar).
  *                  The LSH banding in front is fixed at 16 bands × 2
  *                  rows (S-curve midpoint ≈ 0.25), so candidate recall
  *                  at the threshold is ≥ 99% only for thresholds ≳ 0.4
  *                  — a lower threshold silently loses true pairs the
  *                  banding never surfaces. Measure recall for YOUR
  *                  threshold with the `dd_lsh_recall` monitor before
  *                  trusting it.
  */
case class DedupConfig(threshold: Double = 0.5)

/** Near-duplicate removal as a PUBLIC, staged API — the sub-quadratic
  * production pipeline: MinHash-LSH candidates → exact-Jaccard
  * verification → connected components → min-id representatives. Its
  * default [[run]] is the registered `dd_lsh_clusters` query and
  * [[representatives]] over it is `dd_dup_groups`, so the DuckDB oracle
  * checks this path. Each stage returns a DataFrame, so callers can
  * materialize, inspect, or re-enter at any point (e.g. persist the
  * verified edge list, then run clustering in a separate job — exactly
  * what a 100 TB run does).
  *
  * Oracle: the exact all-pairs edge set at the same threshold. LSH recall
  * at J ≥ 0.5 is 1−(1−J²)¹⁶ ≥ 99.0%, and ≥ 1−10⁻¹¹ for the ~0.97-Jaccard
  * clone pairs that actually clear the threshold, so the verified edge
  * set equals the exact one on the fixture data (rehearsed at
  * sf0.001/0.01/0.1; deterministic — xxhash64 banding has no runtime
  * randomness).
  *
  * Scale census: candidates are a linear band explode + per-bucket join
  * (never all-pairs); verification touches candidates only (codegen'd
  * sorted-merge intersect); clustering is O(log diameter) rounds of
  * join+groupBy with lineage cut per round. `dd_lsh_recall` is the
  * companion monitor for the banding's recall. */
class DedupPipeline(cfg: DedupConfig = DedupConfig()) {

  /** Verified near-dup edges: LSH candidates filtered to exact trigram
    * Jaccard ≥ threshold. Columns (a_id, b_id, jaccard). */
  def edges(s: SparkSession, dir: String): DataFrame =
    LlmDedup.lshVerifiedPairs(s, dir)
      .filter(col("jaccard") >= cfg.threshold)

  /** Connected components over an edge list: (doc_id, cluster_id) with
    * cluster_id = min reachable doc_id. Docs with no edge don't appear
    * (they are their own singleton cluster by definition). */
  def clusters(edgeList: DataFrame): DataFrame =
    LlmDedup.connectedComponents(
      edgeList.select(col("a_id"), col("b_id")))

  /** One row per duplicate GROUP: the representative (min doc_id) and the
    * ids it absorbs — the "what to delete" report. */
  def representatives(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(col("doc_id"))).as("member_ids"))
      .select(col("cluster_id").as("keep_doc_id"),
        col("n_members"),
        array_join(transform(col("member_ids"), m => m.cast("string")), ",")
          .as("members"))
      .orderBy(col("keep_doc_id"))

  /** Full chain: (doc_id, cluster_id) ordered by doc_id. */
  def run(s: SparkSession, dir: String): DataFrame =
    clusters(edges(s, dir)).orderBy(col("doc_id"))
}
