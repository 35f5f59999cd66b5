package graft.ops

import graft.{OracleSafe, Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join variants (SURVEY.md §2.4).
  *
  * Scale posture: FIXED dimensions (region 5 rows / nation 25 rows) carry
  * explicit `broadcast()` — at 100 TB the fact side streams through
  * map-side hash joins with zero shuffle. GROWING dimensions (supplier /
  * customer / part) are deliberately UNHINTED (round-15 sweep): the
  * planner auto-broadcasts them at fixture scale — the plan-asserted
  * BroadcastHashJoin chain — and AQE switches to a key shuffle once the
  * dim outgrows the broadcast ceiling, instead of the forced-hint OOM.
  * Fact-fact joins (lineitem⋈orders) shuffle both sides on the join key
  * once; AQE handles skew. The as-of join is a union + running-window —
  * one shuffle on user_id, no join explosion, which is THE scalable as-of
  * strategy (a range join would be quadratic per key). */
object Joins extends QueryModule {
  import OracleSafe._

  /** Fact → 3-level broadcast dim chain: revenue by region/nation.
    * Supplier unhinted (grows with the corpus); nation/region hinted
    * (fixed). All three broadcast at fixture scale. */
  def broadcastDimChain(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum2(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** Left outer: every customer, with order count + exact total (0 for none). */
  def leftJoinOrderCounts(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** Right outer — mirror of the left join with the fact table on the
    * build/left side: every customer kept from the right side, order count
    * + exact total (0 for none). Same 100-TB posture as the left form: one
    * shuffle on the join key, partial-agg before the final group. */
  def rightJoinOrderCounts(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** Left-semi (EXISTS): customers having a 2001 order. */
  def semiJoin(s: SparkSession, d: String): DataFrame = {
    val o2001 = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp_ntz"))
    Tables.customer(s, d)
      .join(o2001, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti (NOT EXISTS): customers who never emitted an event. */
  def antiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.events(s, d), col("c_custkey") === col("user_id"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Full outer on an aggregated key: nations' supplier vs customer counts
    * (exercises null-filling on both sides). */
  def fullOuterJoin(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk1"))
      .agg(count(lit(1)).as("n_suppliers"))
    val cus = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk2"))
      .agg(count(lit(1)).as("n_customers"))
    sup.join(cus, col("nk1") === col("nk2"), "full_outer")
      .select(coalesce(col("nk1"), col("nk2")).as("nationkey"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"))
      .orderBy(col("nationkey"))
  }

  /** Theta/range join against a tiny literal band table (broadcast nested
    * loop — build side is 5 rows, probe side streams). */
  def rangeBandJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("B1", 0.0, 920.0), ("B2", 920.0, 940.0), ("B3", 940.0, 960.0),
      ("B4", 960.0, 980.0), ("B5", 980.0, 1e18))
      .toDF("band", "lo", "hi")
    Tables.part(s, d)
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("sum_price"))
      .orderBy(col("band"))
  }

  /** Bucketized range join — the SHUFFLE-SAFE interval-join plan for when
    * neither side is broadcastable (the broadcast-NL form above stops
    * working once the band table is large): pick a bucket width, map each
    * point to its single bucket (floor(v/w)), explode each interval to the
    * buckets it spans, equi-join on the bucket key, and re-check the exact
    * range as a residual predicate. Turns an O(|A|·|B|) nested loop into a
    * hash shuffle join with per-bucket work — the standard rewrite (same
    * idea as Databricks' range-join optimization; here expressed with
    * sequence+explode so the optimizer sees a plain equi-join). A point
    * falls in exactly one bucket, so no dedup is needed. */
  def rangeBucketedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = 20.0
    val bands = Seq(
      ("B1", 0.0, 920.0), ("B2", 920.0, 940.0), ("B3", 940.0, 960.0),
      ("B4", 960.0, 980.0), ("B5", 980.0, 2000.0))
      .toDF("band", "lo", "hi")
      .select(col("band"), col("lo"), col("hi"),
        explode(sequence(floor(col("lo") / w).cast("long"),
          floor((col("hi") - 0.001) / w).cast("long"))).as("bucket"))
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"),
        floor(col("p_retailprice") / w).cast("long").as("bucket"))
      .join(bands, Seq("bucket"))
      .filter(col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"), dsum(col("p_retailprice")).as("sum_price"))
      .orderBy(col("band"))
  }

  /** Cross join (intentionally tiny): region × region pairs. */
  def crossJoinRegions(s: SparkSession, d: String): DataFrame = {
    val r1 = Tables.region(s, d).select(col("r_name").as("a"))
    val r2 = Tables.region(s, d).select(col("r_name").as("b"))
    r1.crossJoin(r2).filter(col("a") < col("b")).orderBy(col("a"), col("b"))
  }

  /** As-of join: for each purchase event, the latest 'view' event of the
    * same user at-or-before its timestamp.
    *
    * Implemented as union + running window max — a single shuffle on
    * (user_id), linear in events, no pair explosion: the canonical
    * distributed as-of strategy. Views sort before purchases on equal ts
    * ("at or before" includes equality; (user_id, ts) is unique per type in
    * the fixtures so the tie-break is only across types). */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("is_purchase"),
        lit(null).cast("long").as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("is_purchase"),
        col("event_id").as("purchase_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_purchase"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("last_view_us",
        max(when(col("is_purchase") === 0, unix_micros(col("ts")))).over(w))
      .filter(col("is_purchase") === 1)
      .select(col("purchase_id").as("event_id"), col("user_id"),
        col("last_view_us"))
      .orderBy(col("event_id"))
  }

  /** Same as-of semantics via the NATIVE custom operator (logical node +
    * strategy + sort-merge SparkPlan, graft.plans.AsOfJoin) — gated by the
    * identical DuckDB oracle as `join_asof`, so the custom execution path
    * is hash-checked against both DuckDB and the window formulation. */
  def asofJoinNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("v_us"))
    graft.plans.AsOfJoin(s, purchases, views,
        purchases("user_id"), views("v_user"),
        purchases("p_us"), views("v_us"))
      .select(col("event_id"), col("user_id"), col("v_us").as("last_view_us"))
      .orderBy(col("event_id"))
  }

  /** Skew-handling pattern: salted shuffle join. `event_type` has only 5
    * values, so a plain shuffle join on it sends 1/5 of the fact table to
    * one reducer; salting the fact key with pmod(hash, 8) and exploding
    * the dim side ×8 spreads each hot key over 8 reducers. (For a 5-row
    * dim the REAL answer is broadcast — this query demonstrates the
    * technique used when the dim side is too big to broadcast; the plain
    * join is the oracle.) */
  def saltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weights = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("w_type", "weight")
    val salted = weights.withColumn("salt",
      explode(sequence(lit(0), lit(7))))
    val fact = Tables.events(s, d)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(8)).cast("int"))
    fact.join(salted.hint("shuffle_hash"),
        col("event_type") === col("w_type") && fact("salt") === salted("salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("weight")).as("total_weight"))
      .orderBy(col("event_type"))
  }

  /** Fuzzy-match join (entity-resolution building block): candidate part
    * pairs whose names are within Levenshtein distance 6, blocked on
    * (first name token, p_size) so the quadratic comparison runs only
    * inside small blocks — the standard ER blocking pattern; block choice
    * is the scale knob, exactly as in dd_ngram_jaccard. Levenshtein is
    * classic edit distance in both engines, so the oracle is exact. */
  def fuzzyNameJoin(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(
      col("p_partkey"), col("p_name"), col("p_size"),
      element_at(split(col("p_name"), " "), 1).as("blk"))
    val a = p.select(col("blk"), col("p_size"),
      col("p_partkey").as("a_key"), col("p_name").as("a_name"))
    val b = p.select(col("blk"), col("p_size"),
      col("p_partkey").as("b_key"), col("p_name").as("b_name"))
    a.join(b, Seq("blk", "p_size"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= 6)
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"),
        col("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** Forward as-of join with tolerance (the pandas/polars
    * `merge_asof(direction='forward', tolerance=…)` semantics): each click
    * is matched to the FIRST purchase of the same user within the next 24
    * hours, or null. A RANGE window frame over the unioned event stream —
    * one shuffle on user_id, linear state, no pair explosion; the range
    * frame makes equal-timestamp ties deterministic (peers are always in
    * frame, row order never matters). */
  def asofForwardJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us")).rangeBetween(0L, 86400000000L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("us"))).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("us"), col("next_purchase_us"),
        (col("next_purchase_us") - col("us")).as("waited_us"))
      .orderBy(col("event_id"))
  }

  /** NULL-safe equality as a JOIN key (`<=>` / IS NOT DISTINCT FROM):
    * both sides derive a nullable bucket (NULLIF(key % 97, 0)), aggregate
    * per bucket FIRST (the join then touches ≤ 98 rows per side at any
    * scale), and join with `<=>` so the NULL buckets match each other —
    * the semantics an ordinary equi join silently drops. Catalyst treats
    * EqualNullSafe as a hash-join key (plan stays a broadcast/hash join,
    * never a nested loop). Output ordered NULLS FIRST explicitly — Spark
    * and DuckDB disagree on default null order. */
  def nullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d)
      .select(expr("nullif(o_custkey % 97, 0)").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_orders"))
    val b = Tables.customer(s, d)
      .select(expr("nullif(c_custkey % 97, 0)").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_customers"))
    a.join(b, a("k") <=> b("k"))
      .select(a("k").as("k"), col("n_orders"), col("n_customers"),
        (col("n_orders") * col("n_customers")).as("n_pairs"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** Nearest-direction as-of join (pandas `merge_asof(direction='nearest')`
    * parity — completes the backward [[asofJoin]] / forward
    * [[asofForwardJoin]] trio): each click matched to the closest purchase
    * within ±24 h, ties toward the earlier (backward) purchase. Both
    * directional candidates come from RANGE frames over the SAME
    * (user_id, us) window ordering, so both Window operators share ONE
    * user_id exchange (no re-shuffle between the frames; plan-asserted) —
    * never a join, never a pair explosion, identical shuffle shape at any
    * scale. */
  def asofNearestJoin(s: SparkSession, d: String): DataFrame = {
    val day = 86400000000L
    val wB = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-day, 0L)
    val wF = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(0L, day)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_p",
        max(when(col("event_type") === "purchase", col("us"))).over(wB))
      .withColumn("next_p",
        min(when(col("event_type") === "purchase", col("us"))).over(wF))
      .filter(col("event_type") === "click")
      .withColumn("nearest_us",
        when(col("prev_p").isNull, col("next_p"))
          .when(col("next_p").isNull, col("prev_p"))
          .when(col("us") - col("prev_p") <= col("next_p") - col("us"),
            col("prev_p"))
          .otherwise(col("next_p")))
      .select(col("event_id"), col("us"), col("prev_p"), col("next_p"),
        col("nearest_us"), (col("nearest_us") - col("us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Interval-overlap PAIR COUNTING by sweep line — the scale-safe form of
    * an interval×interval self-join. Intervals are each user's daily active
    * span [first event, last event]; the question is "how many user pairs
    * were concurrently active, per day". The naive answer is a quadratic
    * theta self-join (exactly what the DuckDB oracle runs — the gate
    * PROVES the linear plan equals the quadratic truth); the implementation
    * never forms pairs: overlapping = C(n,2) − disjoint, and disjoint
    * pairs (end_a < start_b) are counted by sweeping each day's start/end
    * events in time order and cumulative-summing ends seen strictly before
    * each start (ties resolved start-before-end so touching intervals
    * count as overlap, matching the closed-interval predicate). One window
    * keyed by day over 2·|intervals| rows — linear, integer-only,
    * embarrassingly parallel across days. */
  def intervalOverlap(s: SparkSession, d: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val iv = Tables.events(s, d)
      .select(col("user_id"), us.as("us"))
      .withColumn("day_id", expr("us div 86400000000"))
      .groupBy(col("user_id"), col("day_id"))
      .agg(min(col("us")).as("st"), max(col("us")).as("en"))
    val sweep = iv.select(col("day_id"), col("st").as("t"), lit(0).as("is_end"))
      .unionByName(iv.select(col("day_id"), col("en").as("t"), lit(1).as("is_end")))
    val w = Window.partitionBy(col("day_id")).orderBy(col("t"), col("is_end"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sweep
      .withColumn("ends_before",
        coalesce(sum(col("is_end")).over(w), lit(0L)))
      .filter(col("is_end") === 0)
      .groupBy(col("day_id"))
      .agg(count(lit(1)).as("n"), sum(col("ends_before")).as("disjoint"))
      .select(col("day_id"),
        (expr("n * (n - 1) div 2") - col("disjoint")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
      .orderBy(col("day_id"))
  }

  /** Fuzzy (edit-distance ≤ 1) self-join via FastSS/SymSpell
    * deletion-neighborhood blocking — the scalable form of a similarity
    * join on strings: each distinct name explodes into its len+1 deletion
    * variants (itself + drop-one-char), candidates are pairs sharing a
    * variant (a plain equi-join on the variant key), and only candidates
    * pay the exact `levenshtein` verify. For k=1 the blocking is
    * lossless (two strings at distance ≤ 1 always share a variant), so
    * the output EQUALS the brute-force all-pairs join the oracle runs —
    * that independence is the gate. Cost is linear in Σ(len+1) with a
    * bucketed join, never |names|²; the verify join's volume is the
    * candidate count, which variant-key cardinality keeps bounded. */
  def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_parts"))
    val vars = names.select(col("name"), col("n_parts"),
      explode(expr(
        """transform(sequence(0, length(name)),
          |  i -> if(i = 0, name,
          |    concat(substring(name, 1, i - 1), substring(name, i + 1))))"""
          .stripMargin)).as("v"))
    val a = vars.select(col("v"), col("name").as("name_a"),
      col("n_parts").as("n_a"))
    val b = vars.select(col("v"), col("name").as("name_b"),
      col("n_parts").as("n_b"))
    a.join(b, Seq("v"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Inverted-index (term-match) join — the text-retrieval join shape:
    * instead of a quadratic arrays_overlap cross join, both sides explode
    * to (term, id) postings and meet in ONE equi-join on the term, then
    * regroup to count matched terms per (query, doc) — top-5 per query by
    * match count. Query terms come from five seed part names (derived
    * from the data, so the oracle rebuilds them). This is how search-
    * style joins scale: postings are linear, the join is keyed by term,
    * and hot terms — not pair counts — are the skew knob. */
  def invertedIndexJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = Tables.part(s, d)
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("term"))
    val queries = Tables.part(s, d).filter(col("p_partkey") <= 5)
      .select(col("p_partkey").as("qid"),
        explode(split(col("p_name"), " ")).as("term"))
      .distinct()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("n_matched").desc, col("p_partkey"))
    queries.join(parts, Seq("term"))
      .groupBy(col("qid"), col("p_partkey"))
      .agg(countDistinct(col("term")).as("n_matched"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("p_partkey"), col("n_matched"))
      .orderBy(col("qid"), col("rank"))
  }

  /** SALTED join — the manual skew-mitigation pattern for when AQE's
    * runtime skew split isn't available (first-shuffle skew, stateful
    * streaming joins): the fact side adds an 8-way salt derived from its
    * own row (so one hot customer's orders spread over 8 reducer
    * partitions), the dim side explodes ×8 to meet every salt, and the
    * join key becomes (custkey, salt). A shuffle-hash hint keeps the plan
    * honest — broadcast would hide the salting. The gate proves the
    * REWRITE IS LOSSLESS: the oracle aggregates over the plain unsalted
    * join. Dim-side cost is the 8× explode — the knob traded against the
    * hot key's reducer ceiling. */
  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val r = 8
    val fact = Tables.orders(s, d)
      .withColumn("salt", pmod(col("o_orderkey"), lit(r)).cast("int"))
    val dim = Tables.customer(s, d)
      .withColumn("salt", explode(array((0 until r).map(lit): _*)))
    fact.join(dim.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("long").as("cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** Bloom-filter semi-join reduction (runtime-filter / sideways
    * information passing, the pattern behind Spark's
    * `spark.sql.optimizer.runtime.bloomFilter` rewrite, done explicitly):
    * the filtered dim side's key set folds into an m=16384-bit Bloom
    * (partial+final bit_or over 256 words, broadcast as ONE row), and the
    * fact side is pruned MAP-SIDE by k=4 bit tests BEFORE its shuffle —
    * so the exchange moves ~|selectivity|·|fact| rows instead of |fact|.
    * This is the join-reduction twin of [[LlmDedup.bloomIncremental]]'s
    * dedup pre-filter: it matters exactly when the dim key set is too big
    * to broadcast-join but its Bloom (a few MB at 10 bits/key) still
    * broadcasts fine. The final join runs exactly (shuffle_hash hint so
    * the plan doesn't quietly broadcast), so Bloom false positives cannot
    * leak into the answer — the oracle is the PLAIN filtered join, which
    * proves the reduction lossless. The bit layout is [[Md5Bloom]]'s
    * (portable to the SQL oracle, FPs included). */
  def bloomReduceJoin(s: SparkSession, d: String): DataFrame = {
    val mBits = 16384L // 256 longs; size ~10 bits/key in production
    def digest(key: String): Column = md5(col(key).cast("string"))
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_nationkey"))
    val bloom = Md5Bloom.pack(Md5Bloom.words(dim, digest("c_custkey"), mBits), mBits)
    val probed = Md5Bloom.probe(Tables.orders(s, d), bloom, digest("o_custkey"), mBits)
      .filter(Md5Bloom.hit)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    probed.join(dim.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .cast("long").as("cents"))
      .orderBy(col("c_nationkey"))
  }

  private val asofOracle =
    """SELECT p.event_id, p.user_id,
      |  (SELECT epoch_us(MAX(v.ts)) FROM events v
      |   WHERE v.user_id = p.user_id AND v.event_type = 'view'
      |     AND v.ts <= p.ts) AS last_view_us
      |FROM events p WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  override def catalog: Seq[Query] = Seq(
    // Deliberately INDEPENDENT of the blocking: brute-force all-pairs
    // levenshtein. A hash-exact match proves the deletion-neighborhood
    // candidates are lossless at k=1.
    // The oracle is the PLAIN filtered join — equality proves the Bloom
    // reduction lossless (false positives die in the exact verify join).
    Query("join_bloom_reduce", bloomReduceJoin, Some(
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    // The oracle joins UNSALTED — equality proves the salt rewrite lossless.
    Query("join_salted", saltedJoin, Some(
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("join_inverted_index", invertedIndexJoin, Some(
      """WITH postings AS (
        |  SELECT p_partkey, unnest(string_split(p_name, ' ')) AS term
        |  FROM part),
        |q AS (
        |  SELECT DISTINCT p_partkey AS qid,
        |    unnest(string_split(p_name, ' ')) AS term
        |  FROM part WHERE p_partkey <= 5),
        |m AS (
        |  SELECT q.qid, p.p_partkey, COUNT(DISTINCT q.term) AS n_matched
        |  FROM q JOIN postings p ON p.term = q.term
        |  GROUP BY q.qid, p.p_partkey)
        |SELECT qid, CAST(rank AS INT) AS rank, p_partkey, n_matched FROM (
        |  SELECT qid, p_partkey, n_matched,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY n_matched DESC, p_partkey) AS rank
        |  FROM m) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    Query("join_fuzzy", fuzzyJoin, Some(
      """WITH n AS (
        |  SELECT p_name AS name, COUNT(*) AS n_parts FROM part
        |  GROUP BY p_name)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  a.n_parts AS n_a, b.n_parts AS n_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY name_a, name_b""".stripMargin)),
    Query("join_interval_overlap", intervalOverlap, Some(
      """WITH iv AS (SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day_id,
        |    MIN(CAST(epoch_us(ts) AS BIGINT)) AS st,
        |    MAX(CAST(epoch_us(ts) AS BIGINT)) AS en
        |  FROM events GROUP BY 1, 2)
        |SELECT a.day_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM iv a JOIN iv b ON a.day_id = b.day_id AND a.user_id < b.user_id
        |  AND a.st <= b.en AND b.st <= a.en
        |GROUP BY a.day_id ORDER BY a.day_id""".stripMargin)),
    Query("join_asof_fwd", asofForwardJoin, Some(
      """SELECT event_id, us, next_purchase_us,
        |  next_purchase_us - us AS waited_us FROM (
        |  SELECT event_id, event_type, epoch_us(ts) AS us,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |        RANGE BETWEEN CURRENT ROW AND 86400000000 FOLLOWING)
        |      AS next_purchase_us
        |  FROM events) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin)),
    Query("join_null_safe", nullSafeJoin, Some(
      """WITH a AS (
        |  SELECT nullif(o_custkey % 97, 0) AS k, COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT nullif(c_custkey % 97, 0) AS k, COUNT(*) AS n_customers
        |  FROM customer GROUP BY 1)
        |SELECT a.k AS k, n_orders, n_customers,
        |  n_orders * n_customers AS n_pairs
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin)),
    Query("join_asof_nearest", asofNearestJoin, Some(
      """SELECT event_id, us, prev_p, next_p,
        |  CASE WHEN prev_p IS NULL THEN next_p
        |       WHEN next_p IS NULL THEN prev_p
        |       WHEN us - prev_p <= next_p - us THEN prev_p
        |       ELSE next_p END AS nearest_us,
        |  CASE WHEN prev_p IS NULL THEN next_p
        |       WHEN next_p IS NULL THEN prev_p
        |       WHEN us - prev_p <= next_p - us THEN prev_p
        |       ELSE next_p END - us AS gap_us
        |FROM (
        |  SELECT event_id, event_type, us,
        |    MAX(CASE WHEN event_type = 'purchase' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |        RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) AS prev_p,
        |    MIN(CASE WHEN event_type = 'purchase' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |        RANGE BETWEEN CURRENT ROW AND 86400000000 FOLLOWING) AS next_p
        |  FROM (SELECT event_id, event_type, user_id, epoch_us(ts) AS us
        |        FROM events) e) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin)),
    Query("join_fuzzy_name", fuzzyNameJoin, Some(
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_size,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part)
        |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |  a.p_name AS a_name, b.p_name AS b_name,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM p a JOIN p b
        |  ON a.blk = b.blk AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 6
        |ORDER BY a_key, b_key""".stripMargin)),
    Query("join_asof_native", asofJoinNative, Some(asofOracle)),
    Query("join_salted_skew", saltedSkewJoin, Some(
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(weight AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_weight
        |FROM events
        |JOIN (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
        |             ('signup', 5.0), ('error', 0.0)) AS w(w_type, weight)
        |  ON event_type = w_type
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("join_broadcast_chain", broadcastDimChain, Some(
      s"""SELECT r_name, n_name,
         |  ${sqlDsum("CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1.0 - l_discount AS DECIMAL(8,4))")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),
    Query("join_left_counts", leftJoinOrderCounts, Some(
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         |  COALESCE(${sqlDsum("CAST(o_totalprice AS DECIMAL(18,4))")}, 0.0) AS total_spent
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    Query("join_right_counts", rightJoinOrderCounts, Some(
      s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         |  COALESCE(${sqlDsum("CAST(o_totalprice AS DECIMAL(18,4))")}, 0.0) AS total_spent
         |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    Query("join_semi", semiJoin, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin)),
    Query("join_anti", antiJoin, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    Query("join_full_outer", fullOuterJoin, Some(
      """SELECT COALESCE(nk1, nk2) AS nationkey,
        |  COALESCE(n_suppliers, 0) AS n_suppliers,
        |  COALESCE(n_customers, 0) AS n_customers
        |FROM (SELECT s_nationkey AS nk1, COUNT(*) AS n_suppliers
        |      FROM supplier GROUP BY s_nationkey) s
        |FULL OUTER JOIN (SELECT c_nationkey AS nk2, COUNT(*) AS n_customers
        |      FROM customer GROUP BY c_nationkey) c ON nk1 = nk2
        |ORDER BY nationkey""".stripMargin)),
    Query("join_range_bands", rangeBandJoin, Some(
      s"""SELECT band, COUNT(*) AS n_parts,
         |  ${sqlDsum("CAST(p_retailprice AS DECIMAL(18,4))")} AS sum_price
         |FROM part
         |JOIN (VALUES ('B1', 0.0, 920.0), ('B2', 920.0, 940.0),
         |             ('B3', 940.0, 960.0), ('B4', 960.0, 980.0),
         |             ('B5', 980.0, 1e18)) AS bands(band, lo, hi)
         |  ON p_retailprice >= lo AND p_retailprice < hi
         |GROUP BY band ORDER BY band""".stripMargin)),
    Query("join_range_bucketed", rangeBucketedJoin, Some(
      s"""SELECT band, COUNT(*) AS n_parts,
         |  ${sqlDsum("CAST(p_retailprice AS DECIMAL(18,4))")} AS sum_price
         |FROM part
         |JOIN (VALUES ('B1', 0.0, 920.0), ('B2', 920.0, 940.0),
         |             ('B3', 940.0, 960.0), ('B4', 960.0, 980.0),
         |             ('B5', 980.0, 2000.0)) AS bands(band, lo, hi)
         |  ON p_retailprice >= lo AND p_retailprice < hi
         |GROUP BY band ORDER BY band""".stripMargin)),
    Query("join_cross_regions", crossJoinRegions, Some(
      """SELECT r1.r_name AS a, r2.r_name AS b
        |FROM region r1 CROSS JOIN region r2
        |WHERE r1.r_name < r2.r_name ORDER BY a, b""".stripMargin)),
    Query("join_asof", asofJoin, Some(
      """SELECT p.event_id, p.user_id,
        |  (SELECT epoch_us(MAX(v.ts)) FROM events v
        |   WHERE v.user_id = p.user_id AND v.event_type = 'view'
        |     AND v.ts <= p.ts) AS last_view_us
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin)),
  )
}
