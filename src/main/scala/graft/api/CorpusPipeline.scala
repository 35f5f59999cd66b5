package graft.api

import graft.Tables
import graft.ops.Corpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tunables for [[CorpusPipeline]]. The default config is the oracle-gated
  * `pipeline_corpus` query.
  *
  * @param minTokens        drop docs with fewer whitespace tokens
  * @param maxCharsPerToken drop docs whose chars/token ratio is at or
  *                         above this (gibberish / no-space blobs)
  * @param benchMod         doc_id ≡ 0 (mod benchMod) marks the held-out
  *                         benchmark set used for decontamination
  * @param dedupExact       keep one representative (min doc_id) per
  *                         identical text when true
  * @param trainPct / valPct  md5-bucket split bounds: bucket < trainPct →
  *                         train, < valPct → val, else test
  */
case class CorpusConfig(
    minTokens: Int = 5,
    maxCharsPerToken: Double = 12.0,
    benchMod: Long = 53L,
    dedupExact: Boolean = true,
    trainPct: Int = 80,
    valPct: Int = 90)

/** The corpus-construction pipeline as a PUBLIC, composable API; its
  * default [[run]] is the registered `pipeline_corpus` query, so the
  * DuckDB oracle checks this path. Every stage is `DataFrame => DataFrame`
  * and lazy, so a chained pipeline compiles into ONE Catalyst plan: Spark
  * fuses the map-side stages into a single scan+project, and nothing is
  * materialized between stages.
  *
  * Scale posture: the quality filter and split are map-only;
  * decontamination broadcasts the benchmark shingle set (the corpus side
  * is never shuffled for the join, only an anti-join on doc_id); exact
  * dedup is one window over the content hash; the final agg shuffles on
  * split×lang — nothing is quadratic or driver-bound at 100 TB.
  */
class CorpusPipeline(cfg: CorpusConfig = CorpusConfig()) {

  private val toks = Corpus.tokens(col("text"))

  /** Quality gate: token count and chars-per-token band. Map-only. */
  def qualityFilter(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(toks))
      .withColumn("cpt", length(col("text")).cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= cfg.minTokens &&
        col("cpt") < cfg.maxCharsPerToken)

  /** Drop the benchmark docs themselves, then every corpus doc sharing an
    * 8-token shingle with any benchmark doc (broadcast semi-join). */
  def decontaminate(docs: DataFrame, allShingles: DataFrame): DataFrame = {
    val bench = allShingles.filter(col("doc_id") % cfg.benchMod === 0)
      .select(col("sh")).distinct()
    val contaminated = allShingles.filter(col("doc_id") % cfg.benchMod =!= 0)
      .join(broadcast(bench), Seq("sh")).select(col("doc_id")).distinct()
    docs.filter(col("doc_id") % cfg.benchMod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** One representative (min doc_id) per identical text — the window form:
    * no self-join, one shuffle on the content hash. */
  def dedup(docs: DataFrame): DataFrame =
    if (!cfg.dedupExact) docs
    else {
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      docs.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }

  /** Deterministic md5-bucket split column — stable across runs, shards,
    * and cluster sizes. Map-only. */
  def assignSplit(docs: DataFrame): DataFrame = {
    val bucket = Corpus.md5bucket(
      concat(lit("split:"), col("doc_id").cast("string")), 100)
    docs.withColumn("split",
      when(bucket < cfg.trainPct, "train")
        .when(bucket < cfg.valPct, "val")
        .otherwise("test"))
  }

  /** The full chain over the fixture documents table: quality filter →
    * benchmark-doc and contamination exclusion → exact dedup → split →
    * per-(split, lang) corpus stats (`pipeline_corpus` at the defaults). */
  def run(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val curated = dedup(decontaminate(qualityFilter(docs),
      Corpus.shingles(s, dir)))
    assignSplit(curated)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("split"), col("lang"))
  }
}
