package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All operators live in per-category modules (graft.ops.*, graft.pii.*);
  * this object only concatenates their registrations.
  */
object SparkEntry {
  /** Every registered module. Order defines nothing semantic; names must be
    * globally unique (asserted by ContractSpec). */
  def modules: Seq[QueryModule] = Seq(
    ops.Relational,
    ops.Joins,
    ops.Aggs,
    ops.Windows,
    ops.SetOps,
    ops.Scalars,
    ops.TpchShapes,
    ops.Recursive,
    ops.Events,
    ops.LlmText,
    ops.LlmSimilarity,
    ops.LlmDedup,
    ops.Corpus,
    ops.Graph,
    ops.Geo,
    ops.Ml,
    ops.Survival,
    ops.Recommender,
    ops.TimeSeries,
    ops.Experiment,
    ops.Multimodal,
    pii.PiiQueries,
    sources.Sources,
    sources.Lakehouse,
    streaming.StreamQueries,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Spark form of every registered query, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.catalog).map(q => q.name -> q.build).toMap

  /** DuckDB-dialect oracle SQL of every query that has one, by name. */
  lazy val oracleSql: Map[String, String] =
    modules.flatMap(_.catalog).flatMap(q => q.oracle.map(q.name -> _)).toMap
}
