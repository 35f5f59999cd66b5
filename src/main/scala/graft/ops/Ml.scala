package graft.ops

import graft.{Query, QueryModule, Tables}
import graft.OracleSafe.d2d
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model scoring + evaluation at corpus scale (SURVEY.md §2.13 extension —
  * the "inference side" of the training-data pipeline): broadcast-model
  * linear scoring, decision-tree / GBDT ensemble traversal, exact ROC-AUC,
  * threshold sweeps, calibration, k-fold assignment, target / WOE-IV
  * encodings, the hashing trick, and ranking metrics (NDCG, precision@k).
  *
  * Scale posture shared by the whole family: the MODEL is always the tiny
  * side (weights, tree nodes, thresholds — broadcast joins or literal
  * columns), the DATA side is scanned once and never shuffles for the
  * model; evaluation aggregates are partial+final integer counts. Rank
  * metrics window per-entity (user/query) — never a corpus-wide sort; the
  * one global prefix-sum (AUC's cumulative negatives over the score grid)
  * is bucket-localized exactly like [[Aggs.mannWhitney]].
  *
  * Oracle-parity rules (SURVEY.md §5.3): margins/counts stay exact BIGINT
  * (milli-scaled integer weights — the fixed-point trick), every division
  * is a single IEEE op on identical operands, and the only transcendentals
  * (sigmoid's exp, WOE's ln, NDCG's log2) either ride the raw-`ln`
  * precedent ([[LlmText]] tf-idf) or are floor-frozen into integer gain
  * tables before any aggregation (NDCG).
  */
object Ml extends QueryModule {

  /** Shared base: orders enriched with the customer dimension (broadcast —
    * the dim is tiny) and the binary label y = "order finalized"
    * (o_orderstatus = 'F', ~⅓ positive). At 100 TB this is the one
    * broadcast-join pass every scoring query starts from. */
  private def base(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      // No broadcast hint: customer GROWS with the corpus, so a forced
      // broadcast is an OOM at 100× — the planner auto-broadcasts it at
      // fixture scale and AQE picks a key shuffle when it outgrows the
      // ceiling (round-15 BcastScan sweep).
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
        col("c_mktsegment"), col("c_acctbal"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))

  private val baseSql =
    """SELECT o_orderkey, o_totalprice, o_orderpriority, c_mktsegment,
      |    c_acctbal,
      |    CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ---------------------------------------------------------------- logreg

  /** Linear-model weights in MILLI-units (BIGINT) so the sparse dot product
    * is an exact integer sum — the fixed-point trick that makes a float
    * model hash-comparable. One-hot categorical weights + two numeric
    * bucket features. */
  private val weightRows: Seq[(String, Long)] = Seq(
    "bias" -> -500L,
    "prio=1-URGENT" -> 800L, "prio=2-HIGH" -> 400L, "prio=3-MEDIUM" -> 0L,
    "prio=4-NOT SPECIFIED" -> -200L, "prio=5-LOW" -> -600L,
    "seg=AUTOMOBILE" -> 150L, "seg=BUILDING" -> -100L,
    "seg=FURNITURE" -> 250L, "seg=HOUSEHOLD" -> -50L, "seg=MACHINERY" -> 50L,
    "price_10k" -> 30L, "bal_1k" -> -40L)

  private val weightsSqlCte =
    "w(feature, w) AS (VALUES " + weightRows
      .map { case (f, v) => s"('$f', CAST($v AS BIGINT))" }
      .mkString(", ") + ")"

  /** Melt each order into sparse (feature, x) rows — the standard sparse
    * scoring layout: categorical one-hots carry x=1, numeric features carry
    * their bucketed magnitude. floor() on doubles is deterministic on both
    * engines (truncating double→int casts are NOT — DuckDB rounds). */
  private def featureRows(b: DataFrame): DataFrame =
    b.select(col("o_orderkey"), col("y"),
      explode(array(
        struct(lit("bias").as("feature"), lit(1L).as("x")),
        struct(concat(lit("prio="), col("o_orderpriority")).as("feature"),
          lit(1L).as("x")),
        struct(concat(lit("seg="), col("c_mktsegment")).as("feature"),
          lit(1L).as("x")),
        struct(lit("price_10k").as("feature"),
          floor(col("o_totalprice") / 10000.0).cast("long").as("x")),
        struct(lit("bal_1k").as("feature"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("x"))
      )).as("f"))
      .select(col("o_orderkey"), col("y"),
        col("f.feature").as("feature"), col("f.x").as("x"))

  private val featureRowsSql =
    """feats AS (
      |  SELECT o_orderkey, y, 'bias' AS feature, CAST(1 AS BIGINT) AS x FROM base
      |  UNION ALL
      |  SELECT o_orderkey, y, 'prio=' || o_orderpriority, CAST(1 AS BIGINT) FROM base
      |  UNION ALL
      |  SELECT o_orderkey, y, 'seg=' || c_mktsegment, CAST(1 AS BIGINT) FROM base
      |  UNION ALL
      |  SELECT o_orderkey, y, 'price_10k',
      |    CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) FROM base
      |  UNION ALL
      |  SELECT o_orderkey, y, 'bal_1k',
      |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) FROM base)""".stripMargin

  /** Exact per-order margin (BIGINT milli-units) via the sparse-scoring
    * shape: melt → broadcast-join the weight table → one keyed integer sum.
    * This is how a 100-TB scorer runs: the model broadcasts, the corpus
    * streams through map + one partial/final aggregate keyed by the row id.
    */
  private def margins(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = broadcast(weightRows.toDF("feature", "w"))
    featureRows(base(s, d))
      .join(w, Seq("feature"))
      .groupBy(col("o_orderkey"))
      .agg(sum(col("x") * col("w")).as("margin_milli"), max(col("y")).as("y"))
  }

  private val marginsSql =
    s"""base AS ($baseSql),
       |$featureRowsSql,
       |$weightsSqlCte,
       |margins AS (
       |  SELECT o_orderkey, CAST(SUM(x * w.w) AS BIGINT) AS margin_milli,
       |    MAX(y) AS y
       |  FROM feats JOIN w USING (feature) GROUP BY o_orderkey)""".stripMargin

  /** Logistic scoring: exact integer margin + sigmoid probability. Output is
    * the top-20 scored orders (TakeOrdered cut — no global sort
    * materializes). exp is StrictMath on Spark vs libm on DuckDB (1-ulp
    * divergence on some inputs) → the probability is round(6) on both
    * sides; the ORDERING rides the exact integer margin, never the float. */
  def logregScore(s: SparkSession, d: String): DataFrame =
    margins(s, d)
      .withColumn("prob", round(
        lit(1.0) / (lit(1.0) + exp(-col("margin_milli").cast("double") / 1000.0)),
        6))
      .select(col("o_orderkey"), col("y"), col("margin_milli"), col("prob"))
      .orderBy(col("margin_milli").desc, col("o_orderkey"))
      .limit(20)

  // ------------------------------------------------------------- tree/GBDT

  /** Depth-3 decision tree stored as a NODE TABLE (node, feat, thr, lt, rt):
    * internal nodes route `feature < thr ? lt : rt`; node ids ≥ 7 are
    * leaves (the leaf id is the prediction class). Traversal = 3 broadcast
    * joins — pointer-chasing as dataflow, the standard way to run tree
    * inference when the model lives in a table rather than code. */
  private val treeNodes: Seq[(Int, String, Double, Int, Int)] = Seq(
    (0, "price", 250000.0, 1, 2),
    (1, "bal", 3000.0, 3, 4),
    (2, "bal", 5000.0, 5, 6),
    (3, "prio", 0.5, 7, 8),
    (4, "price", 100000.0, 9, 10),
    (5, "prio", 0.5, 11, 12),
    (6, "price", 400000.0, 13, 14))

  private val treeNodesSqlCte =
    "nodes(node, feat, thr, lt, rt) AS (VALUES " + treeNodes
      .map { case (n, f, t, l, r) => s"($n, '$f', $t, $l, $r)" }
      .mkString(", ") + ")"

  /** The per-row feature dispatch the tree routes on: price, account
    * balance, and the binary "high priority" flag. */
  private def featVal(feat: Column): Column =
    when(feat === "price", col("o_totalprice"))
      .when(feat === "bal", col("c_acctbal"))
      .otherwise(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0)
        .otherwise(0.0))

  private val featValSql =
    """CASE WHEN n.feat = 'price' THEN o_totalprice
      |       WHEN n.feat = 'bal' THEN c_acctbal
      |       WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1.0
      |       ELSE 0.0 END""".stripMargin

  /** Decision-tree inference + per-leaf label report: every order routed
    * through the broadcast node table (3 joins, map-side — the data never
    * shuffles for the model), then one integer aggregate per leaf. The
    * per-leaf positive rate is the tree's purity readout — exactly what a
    * training-data curator checks before trusting a model-based filter. */
  def treeScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nodes = broadcast(treeNodes.toDF("node", "feat", "thr", "lt", "rt"))
    var df = base(s, d).withColumn("node", lit(0))
    for (_ <- 1 to 3) {
      df = df.join(nodes, Seq("node"))
        .withColumn("node",
          when(featVal(col("feat")) < col("thr"), col("lt"))
            .otherwise(col("rt")))
        .drop("feat", "thr", "lt", "rt")
    }
    df.groupBy(col("node").as("leaf"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .orderBy(col("leaf"))
  }

  /** GBDT-style additive ensemble: 3 depth-2 trees with INTEGER leaf
    * margins stored in one (tree, node, …, leaf) table; each row traverses
    * every tree (tiny cross join with the 3-row tree list), leaf margins
    * sum per row, and the query reports the margin histogram with label
    * counts — the standard "score distribution by class" diagnostic.
    * Integer leaves keep the ensemble sum exact. */
  private val gbdtNodes: Seq[(Int, Int, String, Double, Int, Int, Long)] = Seq(
    // (tree, node, feat, thr, lt, rt, leaf) — leaf = margin when node ≥ 3
    (0, 0, "price", 150000.0, 1, 2, 0L),
    (0, 1, "price", 50000.0, 3, 4, 0L),
    (0, 2, "price", 350000.0, 5, 6, 0L),
    (0, 3, "", 0.0, -1, -1, 3L), (0, 4, "", 0.0, -1, -1, 1L),
    (0, 5, "", 0.0, -1, -1, 0L), (0, 6, "", 0.0, -1, -1, -2L),
    (1, 0, "bal", 1000.0, 1, 2, 0L),
    (1, 1, "bal", 0.0, 3, 4, 0L),
    (1, 2, "bal", 6000.0, 5, 6, 0L),
    (1, 3, "", 0.0, -1, -1, 2L), (1, 4, "", 0.0, -1, -1, 1L),
    (1, 5, "", 0.0, -1, -1, 0L), (1, 6, "", 0.0, -1, -1, -1L),
    (2, 0, "prio", 0.5, 1, 2, 0L),
    (2, 1, "seg", 0.5, 3, 4, 0L),
    (2, 2, "seg", 0.5, 5, 6, 0L),
    (2, 3, "", 0.0, -1, -1, 1L), (2, 4, "", 0.0, -1, -1, 2L),
    (2, 5, "", 0.0, -1, -1, -1L), (2, 6, "", 0.0, -1, -1, 0L))

  private val gbdtNodesSqlCte =
    "gnodes(tree, node, feat, thr, lt, rt, leaf) AS (VALUES " + gbdtNodes
      .map { case (t, n, f, th, l, r, lf) =>
        s"($t, $n, '$f', $th, $l, $r, CAST($lf AS BIGINT))" }
      .mkString(", ") + ")"

  /** seg feature for the GBDT: AUTOMOBILE flag. */
  private def gbdtFeatVal(feat: Column): Column =
    when(feat === "price", col("o_totalprice"))
      .when(feat === "bal", col("c_acctbal"))
      .when(feat === "prio",
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0)
          .otherwise(0.0))
      .otherwise(when(col("c_mktsegment") === "AUTOMOBILE", 1.0)
        .otherwise(0.0))

  private val gbdtFeatValSql =
    """CASE WHEN n.feat = 'price' THEN o_totalprice
      |       WHEN n.feat = 'bal' THEN c_acctbal
      |       WHEN n.feat = 'prio' THEN
      |         CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |              THEN 1.0 ELSE 0.0 END
      |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 1.0
      |       ELSE 0.0 END""".stripMargin

  def gbdtMargin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nodes = broadcast(
      gbdtNodes.toDF("tree", "node", "feat", "thr", "lt", "rt", "leaf"))
    val trees = broadcast(Seq(0, 1, 2).toDF("tree"))
    var df = base(s, d).crossJoin(trees).withColumn("node", lit(0))
    for (_ <- 1 to 2) {
      df = df.join(nodes, Seq("tree", "node"))
        .withColumn("node",
          when(gbdtFeatVal(col("feat")) < col("thr"), col("lt"))
            .otherwise(col("rt")))
        .drop("feat", "thr", "lt", "rt", "leaf")
    }
    df.join(nodes.select(col("tree"), col("node"), col("leaf")),
        Seq("tree", "node"))
      .groupBy(col("o_orderkey"), col("y"))
      .agg(sum(col("leaf")).as("margin"))
      .groupBy(col("margin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .orderBy(col("margin"))
  }

  // ------------------------------------------------------------ evaluation

  /** Exact ROC-AUC from integer rank statistics — the Mann-Whitney identity
    * AUC = U / (n₁·n₀) with midrank tie handling, all in BIGINT until one
    * final division. The cumulative-negatives prefix over the score grid is
    * bucket-localized exactly like [[Aggs.mannWhitney]]: the unpartitioned
    * window reads only the knob-bounded bucket table (score range / 10⁴),
    * per-score cumsums partition on the bucket. Scores are
    * floor(o_totalprice) — an integer grid of ≤ 5·10⁵ distinct values. */
  def aucExact(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = base(s, d)
      .select(floor(col("o_totalprice")).cast("long").as("score"), col("y"))
    val vc = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
      .withColumn("bucket", floor(col("score") / 10000.0).cast("long"))
    val bk = vc.groupBy(col("bucket")).agg(sum(col("c")).as("bc"))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bse = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("bucket"), col("base"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    vc.join(broadcast(bse), Seq("bucket"))
      .withColumn("cb",
        col("base") + coalesce(sum(col("c")).over(wIn), lit(0L)))
      // 2× midrank sum over positives: Σ c1·(2·cb + c + 1)
      .agg(sum(col("c1") * (lit(2L) * col("cb") + col("c") + 1L))
          .cast("long").as("r1_2"),
        sum(col("c1")).cast("long").as("n_pos"),
        sum(col("c") - col("c1")).cast("long").as("n_neg"))
      .withColumn("auc_num", col("r1_2") - col("n_pos") * (col("n_pos") + 1L))
      .withColumn("auc_den", lit(2L) * col("n_pos") * col("n_neg"))
      .select(col("n_pos"), col("n_neg"), col("auc_num"), col("auc_den"),
        // single-class degenerate input → NULL (ANSI division would throw)
        when(col("auc_den") =!= 0L,
          col("auc_num").cast("double") / col("auc_den").cast("double"))
          .as("auc"))
      .orderBy(col("n_pos"))
  }

  /** Exact SHAP feature attribution for the linear scorer — for a linear
    * model the Shapley value has the closed form φ_f = w_f·(x_f − μ_f),
    * so "explainability" is computable EXACTLY at corpus scale: global
    * importance per feature = mean|φ| with everything n-scaled to
    * integers (n·φ = w·(n·x − Σx), BIGINT end-to-end; absent one-hot
    * rows contribute the closed-form (n − cnt)·|w·Σx| term instead of
    * being materialized). One melt + one hash agg; the readout divisions
    * are single IEEE ops. Additivity Σφ = margin − E[margin] is the
    * MlSpec pin. */
  def shapLinear(s: SparkSession, d: String): DataFrame = {
    val w = s.createDataFrame(weightRows).toDF("feature", "w")
    val feats = featureRows(base(s, d))
    val nDf = base(s, d).agg(count(lit(1)).as("n"))
    val perF = feats.groupBy(col("feature"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sx"))
      .join(broadcast(w), Seq("feature"))
    val present = feats.join(broadcast(perF), Seq("feature"))
      .crossJoin(broadcast(nDf))
      .select(col("feature"),
        abs(col("w") * (col("n") * col("x") - col("sx")))
          .cast("decimal(28,0)").as("a"))
      .groupBy(col("feature"))
      .agg(sum(col("a")).cast("decimal(38,0)").as("sum_abs_present"))
    perF.join(present, Seq("feature"))
      .crossJoin(broadcast(nDf))
      .select(col("feature"), col("w").as("w_milli"), col("cnt"),
        col("sx"),
        (d2d((col("sum_abs_present") +
          ((col("n") - col("cnt")) * abs(col("w") * col("sx")))
            .cast("decimal(38,0)")).cast("decimal(38,0)")) /
          (col("n").cast("double") * col("n").cast("double") * lit(1000.0)))
          .as("mean_abs_phi"))
      .orderBy(col("mean_abs_phi").desc, col("feature").asc)
  }

  /** Kolmogorov–Smirnov model-discrimination score: the maximum gap
    * between the positive and negative score CDFs. At every distinct
    * score the gap is the EXACT integer |cp·N⁻ − cn·N⁺| (the /N⁺N⁻
    * normalization deferred to one readout division), the cumulative
    * counts are bucket-localized exactly like [[aucExact]] (per-bucket
    * base offsets + windows partitioned on the bucket — no
    * corpus-proportional unpartitioned window), and the argmax row
    * emerges via a distributed TakeOrdered with deterministic
    * tie-breaks. */
  def ksScore(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = base(s, d)
      .select(floor(col("o_totalprice")).cast("long").as("score"), col("y"))
    val vc = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
      .withColumn("bucket", floor(col("score") / 10000.0).cast("long"))
    val bk = vc.groupBy(col("bucket"))
      .agg(sum(col("c")).as("bc"), sum(col("c1")).as("bc1"))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bse = bk
      .withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .withColumn("base1", coalesce(sum(col("bc1")).over(wB), lit(0L)))
      .select(col("bucket"), col("base"), col("base1"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = vc.agg(sum(col("c1")).as("n_pos"),
      sum(col("c") - col("c1")).as("n_neg"))
    vc.join(broadcast(bse), Seq("bucket"))
      .withColumn("cp", col("base1") + sum(col("c1")).over(wIn))
      .withColumn("ct", col("base") + sum(col("c")).over(wIn))
      .crossJoin(broadcast(tot))
      .select(col("score"), col("cp"), (col("ct") - col("cp")).as("cn"),
        col("n_pos"), col("n_neg"),
        abs(col("cp") * col("n_neg") -
          (col("ct") - col("cp")) * col("n_pos")).as("ks_num"))
      .withColumn("ks", col("ks_num").cast("double") /
        (col("n_pos") * col("n_neg")).cast("double"))
      .orderBy(col("ks_num").desc, col("score").asc)
      .limit(1)
  }

  /** Average precision (PR-AUC) over the price-score ranking: AP =
    * Σ_over-positives precision@rank / n_pos, computed on the DISTINCT
    * score grid with descending cumulative tp/fp counts (midpoint
    * convention for ties: every positive in a tied block sees the block's
    * full cumulative precision — the standard grouped-AP form).
    * Per-grid-row contributions are rationals of exact BIGINTs whose SUM
    * would be float-order-dependent, so each contribution is floor-frozen
    * to nano-units first — the [[Survival]] micro-nat trick — making the
    * total an exact BIGINT. The descending cumsum is bucket-localized
    * exactly like [[aucExact]]. */
  def prAuc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = base(s, d)
      .select(floor(col("o_totalprice")).cast("long").as("score"), col("y"))
    val vc = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
      .withColumn("bucket", floor(col("score") / 10000.0).cast("long"))
    val bk = vc.groupBy(col("bucket")).agg(
      sum(col("c")).as("bc"), sum(col("c1")).as("bc1"))
    // descending cum: running prefix over bucket DESC / score DESC
    val wB = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bse = bk
      .withColumn("baseC", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .withColumn("baseC1", coalesce(sum(col("bc1")).over(wB), lit(0L)))
      .select(col("bucket"), col("baseC"), col("baseC1"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    vc.join(broadcast(bse), Seq("bucket"))
      .withColumn("cumN", col("baseC") + sum(col("c")).over(wIn))
      .withColumn("cumTp", col("baseC1") + sum(col("c1")).over(wIn))
      .withColumn("contrib_nano",
        when(col("c1") > 0L,
          floor(lit(1.0e9) * col("c1").cast("double") *
            (col("cumTp").cast("double") / col("cumN").cast("double")))
            .cast("long"))
          .otherwise(lit(0L)))
      .agg(sum(col("c1")).cast("long").as("n_pos"),
        sum(col("c") - col("c1")).cast("long").as("n_neg"),
        sum(col("contrib_nano")).cast("long").as("ap_sum_nano"))
      .withColumn("avg_precision",
        col("ap_sum_nano").cast("double") /
          (lit(1.0e9) * col("n_pos").cast("double")))
      .orderBy(col("n_pos"))
  }

  /** Cumulative gains / lift table by score decile — the campaign-targeting
    * readout ("mailing the top 30% captures X% of converters"). Deciles
    * come from the exact margin rank (bucket-localized, as everywhere);
    * all counts integer, gains and lift single float expressions of exact
    * BIGINTs. */
  def liftGains(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = margins(s, d)
      .withColumn("bucket", floor(col("margin_milli") / 250.0).cast("long"))
    val vc = m.groupBy(col("bucket"), col("margin_milli"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("c1"))
    val bk = vc.groupBy(col("bucket")).agg(sum(col("c")).as("bc"))
    val wB = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bse = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("bucket"), col("base"))
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("margin_milli").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = m.agg(count(lit(1)).as("n_tot"), sum(col("y")).as("pos_tot"))
    // rank range of each margin group → its decile(s); a group spans
    // deciles only at boundaries, so assign by the group's FIRST rank
    // (deterministic, documented — the standard grouped-decile form).
    vc.join(broadcast(bse), Seq("bucket"))
      .withColumn("before",
        col("base") + coalesce(sum(col("c")).over(wIn), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("decile",
        floor(col("before").cast("double") * 10.0 /
          col("n_tot").cast("double")).cast("long") + 1L)
      .groupBy(col("decile"))
      .agg(sum(col("c")).as("n"), sum(col("c1")).as("n_pos"))
      .crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gain",
        col("cum_pos").cast("double") / col("pos_tot").cast("double"))
      .withColumn("lift",
        (col("n_pos") * col("n_tot")).cast("double") /
          (col("n") * col("pos_tot")).cast("double"))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
        col("gain"), col("lift"))
      .orderBy(col("decile"))
  }

  /** Threshold sweep → confusion counts + precision/recall/F1. Five literal
    * thresholds explode against the exact margins (constant 5× fanout, then
    * partial+final integer counts). F1 computed as the single division
    * 2TP/(2TP+FP+FN) — one IEEE op, no composed rounding. */
  def confusionSweep(s: SparkSession, d: String): DataFrame =
    margins(s, d)
      .withColumn("t", explode(array(
        lit(-1000L), lit(-500L), lit(0L), lit(500L), lit(1000L))))
      .withColumn("pred",
        when(col("margin_milli") >= col("t"), 1L).otherwise(0L))
      .groupBy(col("t").as("threshold"))
      .agg(
        sum(when(col("pred") === 1L && col("y") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1L && col("y") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0L && col("y") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0L && col("y") === 0L, 1L).otherwise(0L)).as("tn"))
      .withColumn("precision",
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
      .withColumn("recall",
        col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
      .withColumn("f1",
        (lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
      .orderBy(col("threshold"))

  /** Calibration bins over the exact margin: floor(margin/250) buckets the
    * score axis into ~17 bins; per bin the observed positive rate vs the
    * mean margin — the reliability-diagram table. All counts integer; the
    * two readout divisions are single IEEE ops. */
  def calibrationBins(s: SparkSession, d: String): DataFrame =
    margins(s, d)
      .withColumn("bin", floor(col("margin_milli").cast("double") / 250.0)
        .cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("margin_milli")).as("sum_margin"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("mean_margin",
        col("sum_margin").cast("double") / col("n").cast("double"))
      .select(col("bin"), col("n"), col("n_pos"), col("pos_rate"),
        col("mean_margin"))
      .orderBy(col("bin"))

  /** Deterministic k-fold assignment (md5 bucket — the [[Corpus.hashSplit]]
    * convention): stable across runs, re-shards, and cluster sizes; no RNG
    * state. Per-fold size + label rate proves the folds are balanced, and
    * the fold column is a pure projection a 100-TB trainer computes in the
    * scan. */
  def kfoldAssign(s: SparkSession, d: String): DataFrame =
    base(s, d)
      .withColumn("fold", Corpus.md5bucket(
        concat(lit("fold:"), col("o_orderkey").cast("string")), 5))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .orderBy(col("fold"))

  /** Smoothed target encoding (the classic m-estimate): enc = (Σy + m·p) /
    * (n + m) with m = 20 and p the global prior. Per-category integer
    * partials + one broadcast global total; the encoding itself is a fixed
    * float expression tree on exact integers — bit-identical across
    * engines. The leakage-safe variant at scale folds the same partials per
    * CV fold; the shape is identical. */
  def targetEncode(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val tot = b.agg(count(lit(1)).as("n_tot"), sum(col("y")).as("pos_tot"))
    b.groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sum_y"))
      .crossJoin(broadcast(tot))
      .withColumn("prior",
        col("pos_tot").cast("double") / col("n_tot").cast("double"))
      .withColumn("enc",
        (col("sum_y").cast("double") + lit(20.0) * col("prior")) /
          (col("n").cast("double") + lit(20.0)))
      .select(col("segment"), col("n"), col("sum_y"), col("prior"), col("enc"))
      .orderBy(col("segment"))
  }

  /** Weight-of-evidence + information value per priority bin — the credit-
    * scoring encoder: WOE = ln((posᵢ/posₜ)/(negᵢ/negₜ)), IVᵢ = (posᵢ/posₜ −
    * negᵢ/negₜ)·WOE. Integer counts throughout; the ln is the one
    * transcendental → round(6) on both sides (StrictMath vs libm, SURVEY
    * §5.3); the IV term multiplies the ROUNDED woe so both engines compose
    * identically. Per-bin rows only (no cross-bin float sum). */
  def woeIv(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    val tot = b.agg(sum(col("y")).as("pos_tot"),
      sum(lit(1L) - col("y")).as("neg_tot"))
    b.groupBy(col("o_orderpriority").as("bin"))
      .agg(sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
      .crossJoin(broadcast(tot))
      .withColumn("p", col("n_pos").cast("double") / col("pos_tot").cast("double"))
      .withColumn("q", col("n_neg").cast("double") / col("neg_tot").cast("double"))
      .withColumn("woe", round(log(col("p") / col("q")), 6))
      .withColumn("iv_term", round((col("p") - col("q")) * col("woe"), 6))
      .select(col("bin"), col("n_pos"), col("n_neg"), col("woe"), col("iv_term"))
      .orderBy(col("bin"))
  }

  /** The hashing trick: categorical features hashed into D=64 signed
    * buckets (md5 bucket for the index, a second independent md5 bit for
    * the sign — the standard variance-reduction signing). Map-only feature
    * explode + one integer aggregate; the feature space is fixed at D
    * regardless of vocabulary growth — the point of the trick at 100 TB. */
  def featureHash(s: SparkSession, d: String): DataFrame =
    base(s, d)
      .select(explode(array(
        concat(lit("prio="), col("o_orderpriority")),
        concat(lit("seg="), col("c_mktsegment")),
        concat(lit("price_10k="),
          floor(col("o_totalprice") / 10000.0).cast("long").cast("string"))
      )).as("f"))
      .select(
        Corpus.md5bucket(concat(lit("fh:"), col("f")), 64).as("bucket"),
        (Corpus.md5bucket(concat(lit("sg:"), col("f")), 2) * 2L - 1L).as("sign"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("sign")).as("net"))
      .orderBy(col("bucket"))

  /** Split-conformal prediction interval: a calibration half (md5 split)
    * fits a per-segment mean model and yields the residual quantile q̂ =
    * the ⌈(n+1)(1−α)⌉-th smallest |price − μ_seg| (α = 0.1); the other
    * half measures empirical coverage of μ ± q̂ — the
    * distribution-free uncertainty wrapper a model-driven curation loop
    * puts around ANY scorer. The residual order statistic runs on the
    * integer residual GRID with the bucket-localized cumulative-count
    * pattern ([[aucExact]]); residuals are floor-frozen cents, μ is one
    * exact-sum division, and the only other float op is the (n+1)·0.9
    * rank cutoff (identical double both engines). */
  def conformal(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = base(s, d)
      .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("split", Corpus.md5bucket(
        concat(lit("cal:"), col("o_orderkey").cast("string")), 2))
    val mu = pts.filter(col("split") === 0L)
      .groupBy(col("seg"))
      .agg((sum(col("cents")).cast("double") / count(lit(1)).cast("double"))
        .as("mu"))
    val res = pts.join(broadcast(mu), Seq("seg"))
      .withColumn("r", floor(abs(col("cents").cast("double") - col("mu")))
        .cast("long"))
    val cal = res.filter(col("split") === 0L)
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val grid = cal.groupBy(col("r")).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", expr("r div 100000"))
    val bk = grid.groupBy(col("bucket")).agg(sum(col("cnt")).as("bc"))
    val wB = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bse = bk.withColumn("base", coalesce(sum(col("bc")).over(wB), lit(0L)))
      .select(col("bucket"), col("base"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val qhat = grid.join(broadcast(bse), Seq("bucket"))
      .withColumn("cum", col("base") + sum(col("cnt")).over(wIn))
      .crossJoin(broadcast(nCal))
      .withColumn("k",
        ceil((col("n_cal") + 1L).cast("double") * 0.9).cast("long"))
      .filter(col("cum") >= col("k"))
      .agg(min(col("r")).as("q_hat"), max(col("k")).as("k"),
        max(col("n_cal")).as("n_cal"))
    res.filter(col("split") === 1L)
      .crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"), max(col("k")).as("k"),
        max(col("q_hat")).as("q_hat"),
        count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_test").cast("double"))
      .orderBy(col("n_cal"))
  }

  // -------------------------------------------------------- ranking metrics

  /** Integer NDCG gain table: wᵣ = floor(10⁶ / log2(r+1)) freezes the
    * transcendental into a constant integer BEFORE any aggregation, so DCG
    * sums are exact BIGINTs (order-free) instead of float adds (order-
    * sensitive). log2 may differ by 1 ulp across engines (StrictMath vs
    * libm) but the ten quotients all sit ≥ 4·10⁻³ away from an integer, so
    * a ≤ 10⁻⁹ wobble can never flip the floor — checked in MlSpec. */
  private def gainAt(r: Column): Column =
    floor(lit(1000000.0) / log2(r.cast("double") + 1.0)).cast("long")

  private def gainAtSql(r: String): String =
    s"CAST(FLOOR(1000000.0 / LOG2(CAST($r AS DOUBLE) + 1.0)) AS BIGINT)"

  /** NDCG@10 per user over the event stream: relevance = purchase events,
    * ranking = event value (the "model score"). DCG uses the integer gain
    * table; IDCG re-ranks by relevance first. All windows partition by
    * user — per-entity state only, never a corpus sort. */
  def ndcgAtK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("rel"))
    val wScore = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    val wIdeal = Window.partitionBy(col("user_id"))
      .orderBy(col("rel").desc, col("value").desc, col("event_id"))
    ev.withColumn("r", row_number().over(wScore))
      .withColumn("ri", row_number().over(wIdeal))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("r") <= 10, col("rel") * gainAt(col("r")))
          .otherwise(0L)).as("dcg_m"),
        sum(when(col("ri") <= 10, col("rel") * gainAt(col("ri")))
          .otherwise(0L)).as("idcg_m"))
      .withColumn("ndcg",
        when(col("idcg_m") > 0L,
          col("dcg_m").cast("double") / col("idcg_m").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("user_id"))

  }

  /** Precision@5 per user: hits among the top-5 events by score. Exact
    * integers; the one division is the readout. Per-user windows only. */
  def precisionAtK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("rel"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    ev.withColumn("r", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(sum(when(col("r") <= 5, col("rel")).otherwise(0L)).as("hits_5"),
        count(lit(1)).as("n_events"))
      .withColumn("prec_5", col("hits_5").cast("double") / 5.0)
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------- registration

  /** Closed-form ridge regression (2 features + intercept, λ = 1) solved
    * IN the engine — training, not just scoring: per-user views/clicks
    * predict purchases. The 2×2 normal equations on centered data are
    * solved by Cramer's rule over n²-scaled centered moments
    * (Cuu = n·Σu² − (Σu)², … — EXACT BIGINTs; λ enters as +n in the same
    * scale), so β̂, the intercept, and the training RMSE are one shared
    * float expression tree over nine exact sums. One corpus shuffle (the
    * per-user agg); the solve itself reads a 1-row table. */
  def ridge2d(s: SparkSession, d: String): DataFrame =
    ridgeSolve(ridgeMoments(s, d), col("n").cast("double")) // λ=1 in C-units
      .select(col("n"), col("b_views"), col("b_clicks"), col("intercept"),
        col("rmse"))

  /** Per-user (views, clicks, purchases) → the 1-row exact moment table
    * every ridge variant solves from. */
  private def ridgeMoments(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("u"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy(col("user_id"))
      .agg(sum(col("u")).as("u"), sum(col("v")).as("v"), sum(col("y")).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("u")).as("su"), sum(col("v")).as("sv"), sum(col("y")).as("sy"),
        sum(col("u") * col("u")).as("suu"),
        sum(col("v") * col("v")).as("svv"),
        sum(col("u") * col("v")).as("suv"),
        sum(col("u") * col("y")).as("suy"),
        sum(col("v") * col("y")).as("svy"),
        sum(col("y") * col("y")).as("syy"))

  /** Regularization-path sweep: the SAME closed-form solve at a LITERAL
    * λ grid (0.1, 1, 10, 100 — exploded onto the 1-row moment table, so
    * the whole sweep costs ONE corpus aggregate + 4 scalar solves). The
    * hyperparameter search that usually demands a cluster of retrains is
    * a single plan here because training is closed-form. */
  def ridgeSweep(s: SparkSession, d: String): DataFrame =
    ridgeSolve(
      // λ grid as INTEGER millis — a 0.1 decimal literal would hit the
      // DuckDB decimal→double rounding hazard (see OracleSafe).
      ridgeMoments(s, d).withColumn("lam_milli",
        explode(array(lit(100L), lit(1000L), lit(10000L), lit(100000L)))),
      col("lam_milli").cast("double") / lit(1000.0) * col("n").cast("double"))
      .select((col("lam_milli").cast("double") / lit(1000.0)).as("lambda"),
        col("n"), col("b_views"), col("b_clicks"), col("intercept"),
        col("rmse"))
      .orderBy(col("lambda"))

  /** The shared closed-form solve: given the 1-row moment table and the
    * C-unit-scaled ridge penalty column, emit coefficients, intercept,
    * and training RMSE (one float expression tree over the exact sums).
    */
  private def ridgeSolve(m: DataFrame, lam: Column): DataFrame = {
    val cuu = (col("n") * col("suu") - col("su") * col("su")).cast("double")
    val cvv = (col("n") * col("svv") - col("sv") * col("sv")).cast("double")
    val cuv = (col("n") * col("suv") - col("su") * col("sv")).cast("double")
    val cuy = (col("n") * col("suy") - col("su") * col("sy")).cast("double")
    val cvy = (col("n") * col("svy") - col("sv") * col("sy")).cast("double")
    val cyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val det = (cuu + lam) * (cvv + lam) - cuv * cuv
    val b1 = (cuy * (cvv + lam) - cuv * cvy) / det
    val b2 = ((cuu + lam) * cvy - cuv * cuy) / det
    m.withColumn("b_views", b1).withColumn("b_clicks", b2)
      .withColumn("intercept",
        (col("sy").cast("double") - b1 * col("su").cast("double") -
          b2 * col("sv").cast("double")) / col("n").cast("double"))
      .withColumn("rmse",
        sqrt((cyy - lit(2.0) * b1 * cuy - lit(2.0) * b2 * cvy +
          b1 * b1 * cuu + lit(2.0) * b1 * b2 * cuv + b2 * b2 * cvv) /
          (col("n").cast("double") * col("n").cast("double"))))
  }

  /** Point-in-time-correct training-set assembly — the feature-store
    * discipline as one query: for every order (label = high-value flag),
    * each feature is computed ONLY from the customer's strictly-prior
    * order history (windows over unbounded-preceding..−1 rows in the
    * deterministic (date, key) order), so label leakage is structurally
    * impossible; the split is the stable md5 fold (no RNG, re-shard
    * safe). One shuffle on the entity key; every feature is exact
    * integers. The as-of/point-in-time JOIN form of the same discipline
    * is `join_pit` — this is the windowed self-history form. */
  def trainingSet(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wLag = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("label",
        when(col("cents") >= 20000000L, 1L).otherwise(0L))
      .withColumn("prior_n",
        coalesce(count(lit(1)).over(w), lit(0L)))
      .withColumn("prior_cents",
        coalesce(sum(col("cents")).over(w), lit(0L)))
      .withColumn("days_since_prev",
        coalesce(datediff(to_date(col("o_orderdate")),
          to_date(lag(col("o_orderdate"), 1).over(wLag))).cast("long"),
          lit(-1L)))
      .withColumn("fold", Corpus.md5bucket(
        concat(lit("ts:"), col("o_orderkey").cast("string")), 10))
      .select(col("o_orderkey"), col("o_custkey"), col("label"),
        col("prior_n"), col("prior_cents"), col("days_since_prev"),
        col("fold"))
      .orderBy(col("o_orderkey"))
  }

  private val eventsRelSql =
    """ev AS (SELECT user_id, event_id, value,
      |  CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS rel FROM events)""".stripMargin

  override def catalog: Seq[Query] = Seq(
    Query("ml_training_set", trainingSet, Some(
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN cents >= 20000000 THEN CAST(1 AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS label,
        |  CAST(COALESCE(COUNT(*) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS prior_n,
        |  CAST(COALESCE(SUM(cents) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS prior_cents,
        |  CAST(COALESCE(date_diff('day',
        |    CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS DATE),
        |    CAST(o_orderdate AS DATE)), -1) AS BIGINT) AS days_since_prev,
        |  CAST(('0x' || substring(md5('ts:' || CAST(o_orderkey AS VARCHAR)),
        |    1, 8)) AS BIGINT) % 10 AS fold
        |FROM o ORDER BY o_orderkey""".stripMargin)),
    Query("ml_shap_linear", shapLinear, Some(
      s"""WITH base AS ($baseSql),
         |$weightsSqlCte,
         |$featureRowsSql,
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
         |perf AS MATERIALIZED (
         |  SELECT f.feature, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(f.x) AS BIGINT) AS sx, w.w
         |  FROM feats f JOIN w ON w.feature = f.feature
         |  GROUP BY 1, 4),
         |pres AS MATERIALIZED (
         |  SELECT f.feature,
         |    CAST(SUM(CAST(ABS(p.w * (nn.n * f.x - p.sx)) AS DECIMAL(28,0)))
         |      AS DECIMAL(38,0)) AS sum_abs_present
         |  FROM feats f JOIN perf p ON p.feature = f.feature CROSS JOIN nn
         |  GROUP BY 1)
         |SELECT p.feature, p.w AS w_milli, p.cnt, p.sx,
         |  CAST(CAST(CAST(pr.sum_abs_present +
         |      CAST((nn.n - p.cnt) * ABS(p.w * p.sx) AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) /
         |    (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE) * 1000.0)
         |    AS mean_abs_phi
         |FROM perf p JOIN pres pr ON pr.feature = p.feature CROSS JOIN nn
         |ORDER BY mean_abs_phi DESC, p.feature ASC""".stripMargin)),
    Query("ml_ridge_sweep", ridgeSweep, Some(
      """WITH pu AS MATERIALIZED (
        |  SELECT user_id,
        |    CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS u,
        |    CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS v,
        |    CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(u * u) AS BIGINT) AS suu,
        |    CAST(SUM(v * v) AS BIGINT) AS svv,
        |    CAST(SUM(u * v) AS BIGINT) AS suv,
        |    CAST(SUM(u * y) AS BIGINT) AS suy,
        |    CAST(SUM(v * y) AS BIGINT) AS svy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pu),
        |g(lam_milli) AS (VALUES (100), (1000), (10000), (100000)),
        |c AS (
        |  SELECT m.*, g.lam_milli,
        |    CAST(n * suu - su * su AS DOUBLE) AS cuu,
        |    CAST(n * svv - sv * sv AS DOUBLE) AS cvv,
        |    CAST(n * suv - su * sv AS DOUBLE) AS cuv,
        |    CAST(n * suy - su * sy AS DOUBLE) AS cuy,
        |    CAST(n * svy - sv * sy AS DOUBLE) AS cvy,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
        |    CAST(lam_milli AS DOUBLE) / 1000.0 * CAST(n AS DOUBLE) AS lam
        |  FROM m CROSS JOIN g),
        |b AS (
        |  SELECT *,
        |    (cuy * (cvv + lam) - cuv * cvy) /
        |      ((cuu + lam) * (cvv + lam) - cuv * cuv) AS b1,
        |    ((cuu + lam) * cvy - cuv * cuy) /
        |      ((cuu + lam) * (cvv + lam) - cuv * cuv) AS b2
        |  FROM c)
        |SELECT CAST(lam_milli AS DOUBLE) / 1000.0 AS lambda, n,
        |  b1 AS b_views, b2 AS b_clicks,
        |  (CAST(sy AS DOUBLE) - b1 * CAST(su AS DOUBLE) -
        |   b2 * CAST(sv AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        |  SQRT((cyy - 2.0 * b1 * cuy - 2.0 * b2 * cvy +
        |    b1 * b1 * cuu + 2.0 * b1 * b2 * cuv + b2 * b2 * cvv) /
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS rmse
        |FROM b ORDER BY lambda""".stripMargin)),
    Query("ml_ks_score", ksScore, Some(
      s"""WITH base AS ($baseSql),
         |vc AS MATERIALIZED (
         |  SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS score,
         |    CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS c1
         |  FROM base GROUP BY 1),
         |cum AS MATERIALIZED (
         |  SELECT score,
         |    CAST(SUM(c1) OVER (ORDER BY score) AS BIGINT) AS cp,
         |    CAST(SUM(c) OVER (ORDER BY score) AS BIGINT) AS ct
         |  FROM vc),
         |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_pos,
         |  CAST(SUM(c - c1) AS BIGINT) AS n_neg FROM vc)
         |SELECT score, cp, ct - cp AS cn, n_pos, n_neg,
         |  ABS(cp * n_neg - (ct - cp) * n_pos) AS ks_num,
         |  CAST(ABS(cp * n_neg - (ct - cp) * n_pos) AS DOUBLE) /
         |    CAST(n_pos * n_neg AS DOUBLE) AS ks
         |FROM cum CROSS JOIN tot
         |ORDER BY ks_num DESC, score ASC LIMIT 1""".stripMargin)),
    Query("ml_ridge_2d", ridge2d, Some(
      """WITH pu AS MATERIALIZED (
        |  SELECT user_id,
        |    CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS u,
        |    CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS v,
        |    CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(u) AS BIGINT) AS su, CAST(SUM(v) AS BIGINT) AS sv,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(u * u) AS BIGINT) AS suu,
        |    CAST(SUM(v * v) AS BIGINT) AS svv,
        |    CAST(SUM(u * v) AS BIGINT) AS suv,
        |    CAST(SUM(u * y) AS BIGINT) AS suy,
        |    CAST(SUM(v * y) AS BIGINT) AS svy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pu),
        |c AS (
        |  SELECT n, su, sv, sy,
        |    CAST(n * suu - su * su AS DOUBLE) AS cuu,
        |    CAST(n * svv - sv * sv AS DOUBLE) AS cvv,
        |    CAST(n * suv - su * sv AS DOUBLE) AS cuv,
        |    CAST(n * suy - su * sy AS DOUBLE) AS cuy,
        |    CAST(n * svy - sv * sy AS DOUBLE) AS cvy,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
        |    CAST(n AS DOUBLE) AS lam
        |  FROM m),
        |b AS (
        |  SELECT *,
        |    (cuy * (cvv + lam) - cuv * cvy) /
        |      ((cuu + lam) * (cvv + lam) - cuv * cuv) AS b1,
        |    ((cuu + lam) * cvy - cuv * cuy) /
        |      ((cuu + lam) * (cvv + lam) - cuv * cuv) AS b2
        |  FROM c)
        |SELECT n, b1 AS b_views, b2 AS b_clicks,
        |  (CAST(sy AS DOUBLE) - b1 * CAST(su AS DOUBLE) -
        |   b2 * CAST(sv AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        |  SQRT((cyy - 2.0 * b1 * cuy - 2.0 * b2 * cvy +
        |    b1 * b1 * cuu + 2.0 * b1 * b2 * cuv + b2 * b2 * cvv) /
        |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS rmse
        |FROM b""".stripMargin)),
    Query("ml_pr_auc", prAuc, Some(
      s"""WITH base AS ($baseSql),
         |scored AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS score, y
         |  FROM base),
         |vc AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
         |    CAST(SUM(y) AS BIGINT) AS c1
         |  FROM scored GROUP BY score),
         |cum AS (SELECT c, c1,
         |    CAST(SUM(c) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cumN,
         |    CAST(SUM(c1) OVER (ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cumTp
         |  FROM vc)
         |SELECT CAST(SUM(c1) AS BIGINT) AS n_pos,
         |  CAST(SUM(c - c1) AS BIGINT) AS n_neg,
         |  CAST(SUM(CASE WHEN c1 > 0 THEN
         |    CAST(FLOOR(1.0e9 * CAST(c1 AS DOUBLE) *
         |      (CAST(cumTp AS DOUBLE) / CAST(cumN AS DOUBLE))) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ap_sum_nano,
         |  CAST(SUM(CASE WHEN c1 > 0 THEN
         |    CAST(FLOOR(1.0e9 * CAST(c1 AS DOUBLE) *
         |      (CAST(cumTp AS DOUBLE) / CAST(cumN AS DOUBLE))) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END) AS DOUBLE) /
         |    (1.0e9 * CAST(SUM(c1) AS DOUBLE)) AS avg_precision
         |FROM cum ORDER BY n_pos""".stripMargin)),
    Query("ml_lift_gains", liftGains, Some(
      s"""WITH $marginsSql,
         |vc AS (SELECT margin_milli, CAST(COUNT(*) AS BIGINT) AS c,
         |    CAST(SUM(y) AS BIGINT) AS c1
         |  FROM margins GROUP BY margin_milli),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
         |    CAST(SUM(y) AS BIGINT) AS pos_tot FROM margins),
         |rk AS (SELECT *,
         |    COALESCE(SUM(c) OVER (ORDER BY margin_milli DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      CAST(0 AS BIGINT)) AS before
         |  FROM vc),
         |dec AS (SELECT
         |    CAST(FLOOR(CAST(before AS DOUBLE) * 10.0 /
         |      CAST(n_tot AS DOUBLE)) AS BIGINT) + 1 AS decile, c, c1
         |  FROM rk CROSS JOIN tot),
         |g AS (SELECT decile, CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(c1) AS BIGINT) AS n_pos
         |  FROM dec GROUP BY decile)
         |SELECT decile, n, n_pos,
         |  CAST(SUM(n_pos) OVER (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_pos,
         |  CAST(SUM(n_pos) OVER (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
         |    CAST(pos_tot AS DOUBLE) AS gain,
         |  CAST(n_pos * n_tot AS DOUBLE) / CAST(n * pos_tot AS DOUBLE)
         |    AS lift
         |FROM g CROSS JOIN tot ORDER BY decile""".stripMargin)),
    Query("ml_conformal", conformal, Some(
      s"""WITH base AS ($baseSql),
         |pts AS (SELECT o_orderkey, c_mktsegment AS seg,
         |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         |    CAST(('0x' || substring(md5('cal:' ||
         |      CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS split
         |  FROM base),
         |mu AS (SELECT seg,
         |    CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
         |  FROM pts WHERE split = 0 GROUP BY seg),
         |res AS (SELECT p.split,
         |    CAST(FLOOR(ABS(CAST(p.cents AS DOUBLE) - mu.mu)) AS BIGINT) AS r
         |  FROM pts p JOIN mu ON p.seg = mu.seg),
         |ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal
         |  FROM res WHERE split = 0),
         |grid AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM res WHERE split = 0 GROUP BY r),
         |cum AS (SELECT r, CAST(SUM(cnt) OVER (ORDER BY r
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum FROM grid),
         |q AS (SELECT MIN(r) AS q_hat,
         |    CAST(MAX(CEIL(CAST(n_cal + 1 AS DOUBLE) * 0.9)) AS BIGINT) AS k,
         |    CAST(MAX(n_cal) AS BIGINT) AS n_cal
         |  FROM cum CROSS JOIN ncal
         |  WHERE cum >= CAST(CEIL(CAST(n_cal + 1 AS DOUBLE) * 0.9) AS BIGINT))
         |SELECT q.n_cal, q.k, q.q_hat,
         |  CAST(COUNT(*) AS BIGINT) AS n_test,
         |  CAST(SUM(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_covered,
         |  CAST(SUM(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS coverage
         |FROM res CROSS JOIN q
         |WHERE split = 1
         |GROUP BY q.n_cal, q.k, q.q_hat
         |ORDER BY q.n_cal""".stripMargin)),
    Query("ml_logreg_score", logregScore, Some(
      s"""WITH $marginsSql
         |SELECT o_orderkey, y, margin_milli,
         |  ROUND(1.0 / (1.0 + EXP(-CAST(margin_milli AS DOUBLE) / 1000.0)), 6)
         |    AS prob
         |FROM margins
         |ORDER BY margin_milli DESC, o_orderkey LIMIT 20""".stripMargin)),
    Query("ml_tree_score", treeScore, Some(
      s"""WITH base AS ($baseSql),
         |$treeNodesSqlCte,
         |s0 AS (SELECT base.*, 0 AS node FROM base),
         |s1 AS (SELECT s0.* EXCLUDE (node),
         |  CASE WHEN $featValSql < n.thr THEN n.lt ELSE n.rt END AS node
         |  FROM s0 JOIN nodes n ON s0.node = n.node),
         |s2 AS (SELECT s1.* EXCLUDE (node),
         |  CASE WHEN $featValSql < n.thr THEN n.lt ELSE n.rt END AS node
         |  FROM s1 JOIN nodes n ON s1.node = n.node),
         |s3 AS (SELECT s2.* EXCLUDE (node),
         |  CASE WHEN $featValSql < n.thr THEN n.lt ELSE n.rt END AS node
         |  FROM s2 JOIN nodes n ON s2.node = n.node)
         |SELECT node AS leaf, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y) AS BIGINT) AS n_pos,
         |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
         |FROM s3 GROUP BY node ORDER BY leaf""".stripMargin)),
    Query("ml_gbdt_margin", gbdtMargin, Some(
      s"""WITH base AS ($baseSql),
         |$gbdtNodesSqlCte,
         |s0 AS (SELECT base.*, t.tree, 0 AS node
         |  FROM base CROSS JOIN (SELECT DISTINCT tree FROM gnodes) t),
         |s1 AS (SELECT s0.* EXCLUDE (node),
         |  CASE WHEN $gbdtFeatValSql < n.thr THEN n.lt ELSE n.rt END AS node
         |  FROM s0 JOIN gnodes n ON s0.tree = n.tree AND s0.node = n.node),
         |s2 AS (SELECT s1.* EXCLUDE (node),
         |  CASE WHEN $gbdtFeatValSql < n.thr THEN n.lt ELSE n.rt END AS node
         |  FROM s1 JOIN gnodes n ON s1.tree = n.tree AND s1.node = n.node),
         |rowm AS (SELECT o_orderkey, y, CAST(SUM(n.leaf) AS BIGINT) AS margin
         |  FROM s2 JOIN gnodes n ON s2.tree = n.tree AND s2.node = n.node
         |  GROUP BY o_orderkey, y)
         |SELECT margin, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y) AS BIGINT) AS n_pos
         |FROM rowm GROUP BY margin ORDER BY margin""".stripMargin)),
    Query("ml_auc_exact", aucExact, Some(
      s"""WITH base AS ($baseSql),
         |scored AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS score, y
         |  FROM base),
         |vc AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c,
         |    CAST(SUM(y) AS BIGINT) AS c1
         |  FROM scored GROUP BY score),
         |cum AS (SELECT score, c, c1,
         |    COALESCE(SUM(c) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      CAST(0 AS BIGINT)) AS cb
         |  FROM vc),
         |agg AS (SELECT
         |    CAST(SUM(c1 * (2 * cb + c + 1)) AS BIGINT) AS r1_2,
         |    CAST(SUM(c1) AS BIGINT) AS n_pos,
         |    CAST(SUM(c - c1) AS BIGINT) AS n_neg
         |  FROM cum)
         |SELECT n_pos, n_neg,
         |  CAST(r1_2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
         |  CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
         |  CAST(r1_2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |    CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
         |FROM agg ORDER BY n_pos""".stripMargin)),
    Query("ml_confusion", confusionSweep, Some(
      s"""WITH $marginsSql,
         |sweep AS (SELECT m.*, t.threshold,
         |    CASE WHEN m.margin_milli >= t.threshold THEN 1 ELSE 0 END AS pred
         |  FROM margins m CROSS JOIN (
         |    SELECT UNNEST([CAST(-1000 AS BIGINT), -500, 0, 500, 1000])
         |      AS threshold) t),
         |cm AS (SELECT threshold,
         |    CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM sweep GROUP BY threshold)
         |SELECT threshold, tp, fp, fn, tn,
         |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
         |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
         |  CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
         |FROM cm ORDER BY threshold""".stripMargin)),
    Query("ml_calibration", calibrationBins, Some(
      s"""WITH $marginsSql,
         |b AS (SELECT CAST(FLOOR(CAST(margin_milli AS DOUBLE) / 250.0)
         |    AS BIGINT) AS bin, margin_milli, y FROM margins)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y) AS BIGINT) AS n_pos,
         |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
         |  CAST(SUM(margin_milli) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS mean_margin
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),
    Query("ml_kfold", kfoldAssign, Some(
      s"""WITH base AS ($baseSql),
         |f AS (SELECT y,
         |    CAST(('0x' || substring(md5('fold:' || CAST(o_orderkey AS VARCHAR)),
         |      1, 8)) AS BIGINT) % 5 AS fold
         |  FROM base)
         |SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y) AS BIGINT) AS n_pos,
         |  CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
         |FROM f GROUP BY fold ORDER BY fold""".stripMargin)),
    Query("ml_target_encode", targetEncode, Some(
      s"""WITH base AS ($baseSql),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
         |    CAST(SUM(y) AS BIGINT) AS pos_tot FROM base),
         |seg AS (SELECT c_mktsegment AS segment,
         |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sum_y
         |  FROM base GROUP BY c_mktsegment)
         |SELECT segment, n, sum_y,
         |  CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS prior,
         |  (CAST(sum_y AS DOUBLE) +
         |     20.0 * (CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))) /
         |    (CAST(n AS DOUBLE) + 20.0) AS enc
         |FROM seg CROSS JOIN tot ORDER BY segment""".stripMargin)),
    Query("ml_woe_iv", woeIv, Some(
      s"""WITH base AS ($baseSql),
         |tot AS (SELECT CAST(SUM(y) AS BIGINT) AS pos_tot,
         |    CAST(SUM(1 - y) AS BIGINT) AS neg_tot FROM base),
         |bins AS (SELECT o_orderpriority AS bin,
         |    CAST(SUM(y) AS BIGINT) AS n_pos,
         |    CAST(SUM(1 - y) AS BIGINT) AS n_neg
         |  FROM base GROUP BY o_orderpriority)
         |SELECT bin, n_pos, n_neg,
         |  ROUND(LN((CAST(n_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE)) /
         |     (CAST(n_neg AS DOUBLE) / CAST(neg_tot AS DOUBLE))), 6) AS woe,
         |  ROUND((CAST(n_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE) -
         |   CAST(n_neg AS DOUBLE) / CAST(neg_tot AS DOUBLE)) *
         |  ROUND(LN((CAST(n_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE)) /
         |     (CAST(n_neg AS DOUBLE) / CAST(neg_tot AS DOUBLE))), 6), 6)
         |    AS iv_term
         |FROM bins CROSS JOIN tot ORDER BY bin""".stripMargin)),
    Query("ml_feature_hash", featureHash, Some(
      s"""WITH base AS ($baseSql),
         |f AS (
         |  SELECT 'prio=' || o_orderpriority AS f FROM base
         |  UNION ALL SELECT 'seg=' || c_mktsegment FROM base
         |  UNION ALL SELECT 'price_10k=' ||
         |    CAST(CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS VARCHAR)
         |  FROM base),
         |h AS (SELECT
         |    CAST(('0x' || substring(md5('fh:' || f), 1, 8)) AS BIGINT) % 64
         |      AS bucket,
         |    (CAST(('0x' || substring(md5('sg:' || f), 1, 8)) AS BIGINT) % 2)
         |      * 2 - 1 AS sign
         |  FROM f)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(sign) AS BIGINT) AS net
         |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin)),
    Query("ml_ndcg", ndcgAtK, Some(
      s"""WITH $eventsRelSql,
         |rk AS (SELECT user_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY value DESC, event_id) AS r,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY rel DESC, value DESC, event_id) AS ri
         |  FROM ev)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN r <= 10 THEN rel * ${gainAtSql("r")}
         |    ELSE 0 END) AS BIGINT) AS dcg_m,
         |  CAST(SUM(CASE WHEN ri <= 10 THEN rel * ${gainAtSql("ri")}
         |    ELSE 0 END) AS BIGINT) AS idcg_m,
         |  CASE WHEN SUM(CASE WHEN ri <= 10 THEN rel * ${gainAtSql("ri")}
         |      ELSE 0 END) > 0
         |    THEN CAST(SUM(CASE WHEN r <= 10 THEN rel * ${gainAtSql("r")}
         |        ELSE 0 END) AS DOUBLE) /
         |      CAST(SUM(CASE WHEN ri <= 10 THEN rel * ${gainAtSql("ri")}
         |        ELSE 0 END) AS DOUBLE)
         |    ELSE 0.0 END AS ndcg
         |FROM rk GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("ml_precision_at_k", precisionAtK, Some(
      s"""WITH $eventsRelSql,
         |rk AS (SELECT user_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY value DESC, event_id) AS r
         |  FROM ev)
         |SELECT user_id,
         |  CAST(SUM(CASE WHEN r <= 5 THEN rel ELSE 0 END) AS BIGINT) AS hits_5,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CASE WHEN r <= 5 THEN rel ELSE 0 END) AS DOUBLE) / 5.0
         |    AS prec_5
         |FROM rk GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
