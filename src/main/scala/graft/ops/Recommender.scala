package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Query, QueryModule, Tables}

/** Item-item collaborative-filtering recommender family — the classic
  * co-occurrence model (Amazon-style "customers who bought X also bought
  * Y") expressed as pure relational algebra, plus the top-N serving query
  * and the leave-last-order-out offline evaluation (hit-rate@k + MRR).
  *
  * Scale posture (100 TB):
  *  - Pair generation NEVER materializes the item×item space: pairs come
  *    from a per-basket self-join on the order key, so fan-out is bounded
  *    by Σ(lines-per-order)² — linear in the fact table with a small
  *    constant (≤17 lines/order in the fixtures; real carts are similar).
  *  - The trained model (top-M neighbors per item) is item-count-sized,
  *    not interaction-sized — at 20k items × M=10 it broadcasts; scoring
  *    is then a map-side join against user baskets, fan-out ≤ |basket|·M.
  *  - Similarity values are frozen to micro-integers by ONE correctly-
  *    rounded double op chain (mul → sqrt → div → floor); every downstream
  *    sum/compare is exact BIGINT arithmetic, so Spark and the DuckDB
  *    oracle fold bit-identical values in any partition order.
  *
  * Items are product families (`l_partkey div 10`): the raw part space of
  * the uniform synthetic fixtures co-occurs at most 3–5 times, and a
  * rollup is exactly what a production recommender does with a sparse
  * catalog (model at the family level, serve any member).
  */
object Recommender extends QueryModule {

  /** Distinct (basket, item) pairs — the implicit-feedback interaction
    * table. Basket = order; item = product family. The no-op null filters
    * (both columns derive from non-null lineitem keys) pre-empt the
    * isnotnull predicates each JOIN consumer would otherwise push into
    * its own clone of this subtree — with them here, every consumer's
    * exchange is byte-identical and AQE plans ONE lineitem scan + ONE
    * distinct shuffle for the whole recommender pipeline (the final plan
    * previously scanned lineitem 5× in rec_coverage; the round-15
    * weighted-median reuse lesson). */
  private def basketItems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"),
        expr("l_partkey div 10").as("item"))
      .filter(col("ok").isNotNull && col("item").isNotNull)
      .distinct()

  /** Distinct (user, item) ownership — orders joined to their customer.
    * Consumes [[basketItems]] (distinct (ok, item)) rather than raw
    * lineitem: u is determined by ok, so the distinct-before-join is
    * set-identical AND the join input shrinks to the deduped pairs —
    * and the shared basketItems exchange is reused here too. */
  private def userItems(s: SparkSession, d: String, orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("u"))
      .join(basketItems(s, d), Seq("ok"))
      .select(col("u"), col("item"))
      .filter(col("u").isNotNull && col("item").isNotNull)
      .distinct()

  /** Micro-frozen cosine: floor(1e6·c / sqrt(n_i·n_j)). Each double op
    * (int→double casts are exact below 2^53; ×, sqrt, ÷ are correctly
    * rounded IEEE) is bit-identical across engines, so the floored BIGINT
    * is too. */
  private def simMicro(c: Column, ni: Column, nj: Column): Column =
    floor(lit(1000000.0) * c.cast("double") /
      sqrt(ni.cast("double") * nj.cast("double"))).cast("long")

  /** Symmetric i<j co-occurrence pair table with per-item basket counts
    * and the micro-frozen cosine. One per-basket self-join (bounded
    * fan-out) + one hash agg + two joins against the item-count dim —
    * UNHINTED: the dim is catalog-sized (grows with the item space), so
    * the broadcast decision belongs to AQE's measured size, not a forced
    * hint that would OOM once the catalog outgrows the ceiling (round-12
    * growth-audit rule; at fixture scale AQE still picks broadcast). */
  private def cooccurPairs(s: SparkSession, d: String,
                           items: DataFrame): DataFrame = {
    val a = items.select(col("ok"), col("item").as("i"))
    val b = items.select(col("ok"), col("item").as("j"))
    val pairs = a.join(b, Seq("ok"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("c"))
    val n = items.groupBy(col("item")).agg(count(lit(1)).as("n"))
    pairs
      .join(n.select(col("item").as("i"), col("n").as("n_i")), Seq("i"))
      .join(n.select(col("item").as("j"), col("n").as("n_j")), Seq("j"))
      .withColumn("sim_micro", simMicro(col("c"), col("n_i"), col("n_j")))
  }

  /** Top-M neighbor lists per item (both directions of the i<j pairs),
    * rank = (sim desc, neighbor asc) — the broadcastable serving model. */
  private def neighborModel(pairs: DataFrame, m: Int): DataFrame = {
    // The i<j pair table feeds both union branches; AQE's exchange reuse
    // already evaluates the self-join once (a localCheckpoint here was
    // MEASURED 10× slower on rec_eval_mrr — the blocking materialization
    // barrier costs far more than the reuse saves; see BENCH_NOTES r14).
    val p = pairs
    val sym = p.select(col("i").as("item"), col("j").as("nbr"),
        col("sim_micro"))
      .unionAll(p.select(col("j").as("item"), col("i").as("nbr"),
        col("sim_micro")))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("sim_micro").desc, col("nbr").asc)
    sym.withColumn("rk", row_number().over(w)).filter(col("rk") <= m)
      .drop("rk")
  }

  /** The model readout: top-100 item pairs by frozen cosine. Exact integer
    * counts; ONE float chain per pair frozen to micro before the ranking,
    * so the TakeOrdered cut is deterministic (ties broken on the key
    * pair). */
  def itemCooccur(s: SparkSession, d: String): DataFrame =
    cooccurPairs(s, d, basketItems(s, d))
      .select(col("i"), col("j"), col("c"), col("n_i"), col("n_j"),
        col("sim_micro"))
      .orderBy(col("sim_micro").desc, col("i").asc, col("j").asc)
      .limit(100)

  /** THE scoring tail, shared by serving ([[top3PerUser]] → rec_user_topn
    * / rec_coverage) and offline eval ([[evalMrr]]): score(candidate) =
    * Σ sim_micro over the `owned` items whose top-M neighbor lists contain
    * the candidate, candidates already in `owned` anti-joined away, top-3
    * per user by (score desc, cand). The ownership frame is the ONLY
    * parameter (full history vs leave-last-order-out training history).
    * The model is catalog×M-sized by construction — small enough that AQE
    * broadcasts it at any fixture scale, making scoring a map-side join
    * against the user baskets; the hint is deliberately OMITTED because
    * catalog×M still grows with the item space, and past the broadcast
    * ceiling the correct plan is a key shuffle, which only an unhinted
    * join lets AQE fall back to. Exact BIGINT sums → window ranking
    * partitioned BY USER (per-user state only — scales to any user
    * count). */
  private def scoreTop3(owned: DataFrame, model: DataFrame): DataFrame = {
    // Round-15 stage-level profile (Cli profile, sf0.1): the chain's real
    // bytes are the ×M-fanned (u, cand) partial-agg write (~50 MB), its
    // final-agg read, and the ~18 MB per-user window exchange. A
    // pre-partition of `owned` by u (so the agg / anti-join / window could
    // share one u-exchange) was tried and REVERTED: the model join is a
    // static-plan SortMergeJoin that AQE only converts to broadcast after
    // materializing the probe-side item exchange, so the u-partitioning
    // never reaches the aggregate and the repartition is pure extra
    // shuffle (verified in the post-execution adaptive plan). Repartition
    // AFTER the join would shuffle the raw fan-out without map-side
    // partial aggregation (partial agg measures a 3× row reduction here)
    // — strictly more bytes. The current shape stands.
    val scored = owned.join(model, Seq("item"))
      .select(col("u"), col("nbr").as("cand"), col("sim_micro"))
      .groupBy(col("u"), col("cand"))
      .agg(sum(col("sim_micro")).as("score_micro"),
        count(lit(1)).as("n_contrib"))
      .join(owned.select(col("u"), col("item").as("cand")),
        Seq("u", "cand"), "left_anti")
    val w = Window.partitionBy(col("u"))
      .orderBy(col("score_micro").desc, col("cand").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** Top-3 recommendations per user over the FULL ownership history. */
  private def top3PerUser(s: SparkSession, d: String): DataFrame =
    scoreTop3(
      userItems(s, d, Tables.orders(s, d)),
      neighborModel(cooccurPairs(s, d, basketItems(s, d)), 10))

  def userTopN(s: SparkSession, d: String): DataFrame =
    top3PerUser(s, d)
      .select(col("u"), col("rank"), col("cand"), col("score_micro"),
        col("n_contrib"))
      .orderBy(col("u").asc, col("rank").asc)

  /** Serving-health readout of the top-3 lists: what fraction of the
    * catalog is ever recommended, and how popularity-biased are the
    * recommendations (mean basket-count of recommended items vs the
    * catalog mean — the classic "does the recommender only surface
    * bestsellers" diagnostic). All counts exact BIGINT; the three rates
    * are single divisions. */
  def coverage(s: SparkSession, d: String): DataFrame = {
    val items = basketItems(s, d)
    val pop = items.groupBy(col("item")).agg(count(lit(1)).as("n"))
    val cat = pop.agg(count(lit(1)).as("n_catalog"),
      sum(col("n")).as("pop_cat"))
    val recs = top3PerUser(s, d)
      .join(pop.select(col("item").as("cand"), col("n")), Seq("cand"))
    recs.agg(count(lit(1)).as("total_recs"),
        countDistinct(col("cand")).as("n_recommended"),
        sum(col("n")).as("pop_rec"))
      .crossJoin(broadcast(cat))
      .select(col("n_catalog"), col("n_recommended"),
        (col("n_recommended").cast("double") / col("n_catalog").cast("double"))
          .as("coverage"),
        col("total_recs"),
        (col("pop_rec").cast("double") / col("total_recs").cast("double"))
          .as("avg_pop_rec"),
        (col("pop_cat").cast("double") / col("n_catalog").cast("double"))
          .as("avg_pop_cat"))
  }

  /** Leave-last-order-out evaluation: hold out each user's max-orderkey
    * order, train the co-occurrence model on the REST, recommend top-3
    * from the user's training items, and measure hit-rate@3 and MRR
    * against the held-out basket. Reciprocal ranks are frozen micro
    * literals {1e6, 5e5, 333333}, so both engines sum identical BIGINTs;
    * the two readout rates are single divisions of exact sums. */
  def evalMrr(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val wLast = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderkey").desc)
    val tagged = orders
      .withColumn("is_test", row_number().over(wLast) === 1)
    val trainOrders = tagged.filter(!col("is_test")).drop("is_test")
    val testOrders = tagged.filter(col("is_test")).drop("is_test")

    val trainItems = trainOrders
      .select(col("o_orderkey").as("ok"))
      .join(basketItems(s, d), Seq("ok"))
    val model = neighborModel(cooccurPairs(s, d, trainItems), 10)

    val ownedTrain = userItems(s, d, trainOrders)
    val testItems = userItems(s, d, testOrders)

    // Same scoring tail as serving, just over the TRAINING ownership frame
    // (the held-out last order never contributes to scores or anti-joins).
    val top3 = scoreTop3(ownedTrain, model)

    // Users evaluable = have both a training profile and a held-out basket.
    val evalUsers = ownedTrain.select(col("u")).distinct()
      .join(testItems.select(col("u")).distinct(), Seq("u"), "left_semi")

    val hits = top3
      .join(testItems.select(col("u"), col("item").as("cand")),
        Seq("u", "cand"), "left_semi")
      .groupBy(col("u")).agg(min(col("rank")).as("first_hit"))
    val perUser = evalUsers.join(hits, Seq("u"), "left")
      .select(col("u"),
        when(col("first_hit").isNotNull, 1L).otherwise(0L).as("hit"),
        coalesce(expr("CAST(1000000 div first_hit AS BIGINT)"), lit(0L))
          .as("rr_micro"))
    perUser.agg(count(lit(1)).as("n_users"), sum(col("hit")).as("n_hits"),
        sum(col("rr_micro")).as("sum_rr_micro"))
      .select(col("n_users"), col("n_hits"), col("sum_rr_micro"),
        (col("n_hits").cast("double") / col("n_users").cast("double"))
          .as("hit_rate"),
        (col("sum_rr_micro").cast("double") /
          (col("n_users") * lit(1000000L)).cast("double")).as("mrr"))
  }

  private val pairsSql =
    """items AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey // 10 AS item
      |  FROM lineitem),
      |cnt AS MATERIALIZED (
      |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1),
      |pairs AS MATERIALIZED (
      |  SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
      |  GROUP BY 1, 2),
      |sims AS MATERIALIZED (
      |  SELECT p.i, p.j, p.c, ni.n AS n_i, nj.n AS n_j,
      |    CAST(FLOOR(1000000.0 * CAST(p.c AS DOUBLE) /
      |      SQRT(CAST(ni.n AS DOUBLE) * CAST(nj.n AS DOUBLE))) AS BIGINT)
      |      AS sim_micro
      |  FROM pairs p
      |  JOIN cnt ni ON ni.item = p.i
      |  JOIN cnt nj ON nj.item = p.j)""".stripMargin

  private val modelSql =
    """sym AS MATERIALIZED (
      |  SELECT i AS item, j AS nbr, sim_micro FROM sims
      |  UNION ALL
      |  SELECT j AS item, i AS nbr, sim_micro FROM sims),
      |model AS MATERIALIZED (
      |  SELECT item, nbr, sim_micro FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY item
      |      ORDER BY sim_micro DESC, nbr ASC) AS rk FROM sym)
      |  WHERE rk <= 10)""".stripMargin

  override def catalog: Seq[Query] = Seq(
    Query("rec_item_cooccur", itemCooccur, Some(
      s"""WITH $pairsSql
        |SELECT i, j, c, n_i, n_j, sim_micro FROM sims
        |ORDER BY sim_micro DESC, i ASC, j ASC LIMIT 100""".stripMargin)),
    Query("rec_user_topn", userTopN, Some(
      s"""WITH $pairsSql,
        |$modelSql,
        |owned AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey // 10 AS item
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |scored AS (
        |  SELECT ow.u, m.nbr AS cand,
        |    CAST(SUM(m.sim_micro) AS BIGINT) AS score_micro,
        |    CAST(COUNT(*) AS BIGINT) AS n_contrib
        |  FROM owned ow JOIN model m ON m.item = ow.item
        |  WHERE NOT EXISTS (SELECT 1 FROM owned o2
        |    WHERE o2.u = ow.u AND o2.item = m.nbr)
        |  GROUP BY 1, 2)
        |SELECT u, rank, cand, score_micro, n_contrib FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY u
        |    ORDER BY score_micro DESC, cand ASC) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY u ASC, rank ASC""".stripMargin)),
    Query("rec_coverage", coverage, Some(
      s"""WITH $pairsSql,
        |$modelSql,
        |pop AS MATERIALIZED (
        |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1),
        |cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_catalog,
        |  CAST(SUM(n) AS BIGINT) AS pop_cat FROM pop),
        |owned AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS u, l.l_partkey // 10 AS item
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |top3 AS MATERIALIZED (
        |  SELECT u, cand FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY u
        |      ORDER BY score_micro DESC, cand ASC) AS rank
        |    FROM (
        |      SELECT ow.u, m.nbr AS cand,
        |        CAST(SUM(m.sim_micro) AS BIGINT) AS score_micro
        |      FROM owned ow JOIN model m ON m.item = ow.item
        |      WHERE NOT EXISTS (SELECT 1 FROM owned o2
        |        WHERE o2.u = ow.u AND o2.item = m.nbr)
        |      GROUP BY 1, 2))
        |  WHERE rank <= 3),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS total_recs,
        |    CAST(COUNT(DISTINCT t.cand) AS BIGINT) AS n_recommended,
        |    CAST(SUM(p.n) AS BIGINT) AS pop_rec
        |  FROM top3 t JOIN pop p ON p.item = t.cand)
        |SELECT c.n_catalog, a.n_recommended,
        |  CAST(a.n_recommended AS DOUBLE) / CAST(c.n_catalog AS DOUBLE)
        |    AS coverage,
        |  a.total_recs,
        |  CAST(a.pop_rec AS DOUBLE) / CAST(a.total_recs AS DOUBLE)
        |    AS avg_pop_rec,
        |  CAST(c.pop_cat AS DOUBLE) / CAST(c.n_catalog AS DOUBLE)
        |    AS avg_pop_cat
        |FROM agg a CROSS JOIN cat c""".stripMargin)),
    Query("rec_eval_mrr", evalMrr, Some(
      """WITH tagged AS MATERIALIZED (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey DESC) = 1 AS is_test FROM orders),
        |items AS MATERIALIZED (
        |  SELECT DISTINCT l.l_orderkey AS ok, l.l_partkey // 10 AS item
        |  FROM lineitem l JOIN tagged t ON t.o_orderkey = l.l_orderkey
        |  WHERE NOT t.is_test),
        |cnt AS MATERIALIZED (
        |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.item AS i, b.item AS j, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
        |  GROUP BY 1, 2),
        |sims AS MATERIALIZED (
        |  SELECT p.i, p.j,
        |    CAST(FLOOR(1000000.0 * CAST(p.c AS DOUBLE) /
        |      SQRT(CAST(ni.n AS DOUBLE) * CAST(nj.n AS DOUBLE))) AS BIGINT)
        |      AS sim_micro
        |  FROM pairs p
        |  JOIN cnt ni ON ni.item = p.i
        |  JOIN cnt nj ON nj.item = p.j),
        |sym AS MATERIALIZED (
        |  SELECT i AS item, j AS nbr, sim_micro FROM sims
        |  UNION ALL
        |  SELECT j AS item, i AS nbr, sim_micro FROM sims),
        |model AS MATERIALIZED (
        |  SELECT item, nbr, sim_micro FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |      ORDER BY sim_micro DESC, nbr ASC) AS rk FROM sym)
        |  WHERE rk <= 10),
        |owned_train AS MATERIALIZED (
        |  SELECT DISTINCT t.o_custkey AS u, l.l_partkey // 10 AS item
        |  FROM tagged t JOIN lineitem l ON l.l_orderkey = t.o_orderkey
        |  WHERE NOT t.is_test),
        |test_items AS MATERIALIZED (
        |  SELECT DISTINCT t.o_custkey AS u, l.l_partkey // 10 AS item
        |  FROM tagged t JOIN lineitem l ON l.l_orderkey = t.o_orderkey
        |  WHERE t.is_test),
        |top3 AS MATERIALIZED (
        |  SELECT u, cand, rank FROM (
        |    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY u
        |      ORDER BY score_micro DESC, cand ASC) AS BIGINT) AS rank
        |    FROM (
        |      SELECT ow.u, m.nbr AS cand,
        |        CAST(SUM(m.sim_micro) AS BIGINT) AS score_micro
        |      FROM owned_train ow JOIN model m ON m.item = ow.item
        |      WHERE NOT EXISTS (SELECT 1 FROM owned_train o2
        |        WHERE o2.u = ow.u AND o2.item = m.nbr)
        |      GROUP BY 1, 2))
        |  WHERE rank <= 3),
        |eval_users AS (
        |  SELECT u FROM (SELECT DISTINCT u FROM owned_train)
        |  WHERE u IN (SELECT u FROM test_items)),
        |hits AS (
        |  SELECT t3.u, CAST(MIN(t3.rank) AS BIGINT) AS first_hit
        |  FROM top3 t3
        |  WHERE EXISTS (SELECT 1 FROM test_items ti
        |    WHERE ti.u = t3.u AND ti.item = t3.cand)
        |  GROUP BY 1),
        |per_user AS (
        |  SELECT eu.u,
        |    CASE WHEN h.first_hit IS NOT NULL
        |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS hit,
        |    COALESCE(CAST(1000000 // h.first_hit AS BIGINT),
        |      CAST(0 AS BIGINT)) AS rr_micro
        |  FROM eval_users eu LEFT JOIN hits h ON h.u = eu.u)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(hit) AS BIGINT) AS n_hits,
        |  CAST(SUM(rr_micro) AS BIGINT) AS sum_rr_micro,
        |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hit_rate,
        |  CAST(SUM(rr_micro) AS DOUBLE) /
        |    CAST(COUNT(*) * 1000000 AS DOUBLE) AS mrr
        |FROM per_user""".stripMargin)),
  )
}
