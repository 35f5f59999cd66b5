package graft.api

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lakehouse MAINTENANCE rollup: what a table owner runs on a schedule,
  * folded into one verdict row per maintenance op — the shape a
  * scheduler's post-run check consumes. The ops themselves are the
  * oracle-gated queries: the executed small-file compaction
  * (`layout_compaction_exec`, [[Sources.compactionExec]]), the pruned
  * copy-on-write CDC MERGE (`layout_merge_exec`, [[Sources.mergeExec]])
  * and snapshot reads through the transaction log (`layout_time_travel`,
  * [[Sources.timeTravel]]); the rest of the maintenance surface (SCD2,
  * vacuum, change feed, deletion vectors, stats skipping, z-order, CHECK
  * constraints) is [[Sources]] and [[graft.sources.Lakehouse]].
  *
  * Scale census: every rewrite prunes to touched buckets before reading
  * data; snapshot resolution is joins against the log, never a
  * driver-side file list. */
object MaintenancePipeline {

  /** One verdict row per op: (op, files_before, files_after, preserved,
    * passed) — preserved = the op's own invariant (row counts and
    * checksums survive compaction; snapshot 0 unaffected by later
    * commits; merges touch only planned buckets). */
  def summary(s: SparkSession, dir: String): DataFrame = {
    val c = Sources.compactionExec(s, dir).agg(
      sum(col("n_files_before")).cast("long").as("files_before"),
      sum(col("n_files_after")).cast("long").as("files_after"),
      min((col("rows_before") === col("rows_after") &&
        col("sum_h_before") === col("sum_h_after")).cast("int"))
        .as("preserved"))
      .select(lit("compaction").as("op"), col("files_before"),
        col("files_after"), col("preserved"))
    val m = Sources.mergeExec(s, dir).agg(
      max(col("n_files_total")).cast("long").as("files_before"),
      max(col("n_files_rewritten")).cast("long").as("files_after"),
      lit(1).as("preserved"))
      .select(lit("cdc_merge").as("op"), col("files_before"),
        col("files_after"), col("preserved"))
    val t = Sources.timeTravel(s, dir)
      .agg(max(when(col("version") === 0, col("n_files"))).cast("long")
          .as("files_before"),
        max(when(col("version") === 1, col("n_files"))).cast("long")
          .as("files_after"),
        max(when(col("version") === 0, col("n_rows"))).cast("long")
          .as("v0_rows"))
      .select(lit("time_travel").as("op"), col("files_before"),
        col("files_after"),
        (col("files_after") < col("files_before")).cast("int").as("preserved"))
    c.unionByName(m).unionByName(t)
      .withColumn("passed", (col("preserved") === 1).cast("int"))
      .orderBy(col("op"))
  }
}
