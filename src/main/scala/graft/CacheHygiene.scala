package graft

import org.apache.spark.sql.SparkSession

/** Session cache hygiene for multi-query runs.
  *
  * Several operators persist a small-but-expensive intermediate whose
  * lifetime is the enclosing query's terminal action (the shingle table in
  * the dedup flows, the true-pair set in the LSH recall monitor, the
  * shingle stream in boilerplate detection), and the connected-components
  * loop pins one `localCheckpoint` RDD for its final labeling. A query
  * builder cannot release those itself — the caller owns the action — so a
  * long-lived session running many queries (exactly what [[Run.sweep]]
  * does for [[Verify]], [[Bench]] and [[Cli]]) accumulates dead cached
  * blocks unless the runner clears between queries. Measured symptom at sf0.1: every
  * query late in the alphabetical bench order gained ~0.25 s from cache
  * pressure before this existed.
  *
  * Contract: call only after the LAST action on every DataFrame the query
  * produced. Plain persisted blocks are a recompute optimization, but
  * `localCheckpoint` blocks are a correctness dependency — their lineage is
  * truncated, so a cleared checkpoint cannot be recomputed and a later
  * action on a still-live DataFrame fails with a missing-block error.
  * [[Run.sweep]] satisfies this by construction (one action per run,
  * nothing reused across runs). */
object CacheHygiene {
  /** Release every cached Dataset (CacheManager) and every persisted RDD
    * (including `localCheckpoint` RDDs, which live below the Dataset
    * cache). Non-blocking: block eviction proceeds asynchronously. */
  def clear(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
