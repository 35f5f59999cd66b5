package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar function batteries (SURVEY.md §2.8–2.9): strings, dates, math,
  * arrays / higher-order functions, JSON.
  *
  * All built-ins — fully codegen'd, no UDFs, so each query is a map-only
  * stage whose cost at 100 TB is the parquet scan of the referenced columns.
  * Oracle dialect hazards handled: DuckDB `dayofweek` is 0=Sunday vs Spark
  * 1=Sunday; float math restricted to IEEE-correctly-rounded ops (sqrt) or
  * exact-integer results; JSON emitted compact on both engines. */
object Scalars extends QueryModule {

  def stringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lower_name"),
        upper(col("p_brand")).as("upper_brand"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_head"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        split(col("p_name"), " ").getItem(0).as("first_word"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        trim(lit("  pad  ")).as("trimmed"),
        lpad(col("p_brand"), 12, "0").as("padded"),
        col("p_name").startsWith("small").cast("int").as("is_small"),
        col("p_name").contains("bolt").cast("int").as("has_bolt"))
      .orderBy(col("p_partkey"))

  def dateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow_spark"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .as("days_to_2002"),
        ((year(lit("2002-01-01").cast("date")) - year(col("o_orderdate"))) * 12 +
          (month(lit("2002-01-01").cast("date")) - month(col("o_orderdate"))))
          .as("months_to_2002"),
        date_add(col("o_orderdate").cast("date"), 90).as("due_date"),
        last_day(col("o_orderdate")).as("month_end"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_day"))
      .orderBy(col("o_orderkey"))

  def mathFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        abs(col("p_size") - 25).as("abs_off"),
        ceil(col("p_retailprice")).as("ceil_price"),
        floor(col("p_retailprice")).as("floor_price"),
        round(col("p_retailprice"), 0).as("round_price"),
        sqrt(col("p_size").cast("double")).as("sqrt_size"),
        pow(col("p_size").cast("double"), 2).as("size_sq"),
        greatest(col("p_size"), lit(10)).as("at_least_10"),
        least(col("p_size"), lit(40)).as("at_most_40"),
        pmod(col("p_partkey"), lit(7)).as("key_mod7"),
        sign(col("p_size") - 25).cast("int").as("size_sign"))
      .orderBy(col("p_partkey"))

  /** Higher-order array functions on constructed integer sequences (exact
    * arithmetic → hash-safe; float vector math lives in the LLM module). */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_size") <= 10)
      .select(
        col("p_partkey"),
        col("p_size"),
        size(sequence(lit(1), col("p_size"))).cast("long").as("seq_len"),
        aggregate(transform(sequence(lit(1), col("p_size")), x => x * x),
          lit(0L), (acc, x) => acc + x).as("sum_squares"),
        aggregate(filter(sequence(lit(1), col("p_size")), x => x % 2 === 0),
          lit(0L), (acc, x) => acc + x).as("sum_evens"),
        array_contains(sequence(lit(1), col("p_size")), 5).cast("int").as("has_5"),
        element_at(sequence(lit(1), col("p_size")), -1).cast("long").as("last_elem"),
        aggregate(slice(sequence(lit(1), col("p_size")), lit(1),
            least(lit(3), col("p_size"))), lit(0L), (acc, x) => acc + x)
          .as("sum_first3"),
        array_join(transform(sequence(lit(1), least(col("p_size"), lit(4))),
          x => x.cast("string")), "-").as("joined"))
      .orderBy(col("p_partkey"))

  def jsonFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_struct"),
        to_json(struct(col("event_type").as("t"),
          col("user_id").as("u"))).as("packed"),
        // json_tuple is a Generator (UDTF-style multi-column extraction);
        // single-path use emits one string column, cast below.
        json_tuple(col("props"), "k").as("k_tuple_raw"))
      .withColumn("k_tuple", col("k_tuple_raw").cast("long"))
      .drop("k_tuple_raw")
      .orderBy(col("event_id"))

  /** Map-typed column battery (§2.8): build, inspect, transform. Only
    * map-derived scalars are emitted (MAP columns themselves don't
    * hash-compare portably across parquet/pandas representations). */
  def mapFuncs(s: SparkSession, d: String): DataFrame = {
    val m = map_from_entries(array(
      struct(lit("brand").as("k"), col("p_brand").as("v")),
      struct(lit("type").as("k"), col("p_type").as("v"))))
    Tables.part(s, d)
      .select(col("p_partkey"), m.as("m"))
      .select(
        col("p_partkey"),
        map_entries(col("m")).getItem(0).getField("value").as("first_entry_value"),
        size(col("m")).as("m_size"),
        element_at(col("m"), "brand").as("brand_val"),
        array_join(map_keys(col("m")), ",").as("keys_joined"),
        element_at(transform_values(col("m"), (_, v) => upper(v)), "type")
          .as("type_upper"),
        map_contains_key(col("m"), "brand").cast("int").as("has_brand"))
      .orderBy(col("p_partkey"))
  }

  /** LATERAL correlated subquery (§2.4 adjunct): for each small-key
    * customer, its top-2 orders by price — the SQL form of top-k-per-group
    * where the inner query references the outer row. Catalyst plans the
    * decorrelated form (rewritten to a window/join), so this stays one
    * shuffle at scale, not a per-row subquery execution. */
  def sqlLateralTopN(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_custkey <= 300
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)

  /** ANSI-safe `try_*` battery: errors become NULLs instead of runtime
    * failures — the behavior a 100-TB batch job needs (one malformed row
    * must not kill a 6-hour pipeline). try_divide(÷0), try_cast (bad
    * string), try_element_at (out of bounds). */
  def tryBattery(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderkey"),
        try_divide(col("o_totalprice"), (col("o_custkey") % 3).cast("double"))
          .as("div_or_null"),
        try_element_at(sequence(lit(1), lit(3)), lit(5).cast("int"))
          .cast("long").as("oob_elem"),
        expr("try_cast(o_orderpriority AS INT)").as("bad_int"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)")
          .as("prio_num"))
      .orderBy(col("o_orderkey"))

  /** VariantType battery (§2.9, the Spark-4-native semi-structured path):
    * `parse_json` → binary Variant column, typed reads via `variant_get`.
    * Variant keeps the shredded binary form that scans ~an order of
    * magnitude faster than string re-parsing at scale; the string-JSON
    * twin lives in `scalar_json`. */
  def variantBattery(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(
        col("event_id"),
        variant_get(col("v"), "$.k", "bigint").as("k_long"),
        variant_get(col("v"), "$.k", "double").as("k_double"),
        variant_get(col("v"), "$.k", "string").as("k_str"),
        variant_get(col("v"), "$.missing", "bigint").as("k_missing"))
      .orderBy(col("event_id"))

  /** The SQL entry path ([[Tables.sql]]) with a TPC-H Q5
    * shape — customer and supplier in the same nation, revenue per nation
    * in one region/year. Exercises Catalyst's SQL parser + join reorder on
    * a 6-table join. */
  def sqlQ5Shape(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS STRING) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)

  /** Correlated scalar subquery through the SQL path — Catalyst's
    * RewriteCorrelatedScalarSubquery decorrelates it into a join, so the
    * executed plan is shuffle-join shaped, not nested-loop (SURVEY §4). */
  def sqlCorrelatedSubquery(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT o_orderkey, o_custkey
        |FROM orders o
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |       / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)

  /** Bitwise battery: AND/OR/XOR, shifts, popcount — the ops behind hash
    * mixing, bitmask flags, and bucket math (the Z-order key and SimHash
    * kernels use exactly these). Pure map-only projection; integer
    * semantics are identical across engines, so no parity scaffolding. */
  def bitwiseFuncs(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    Tables.part(s, d).select(
      k,
      k.bitwiseAND(255).as("k_and"),
      k.bitwiseOR(1024).as("k_or"),
      k.bitwiseXOR(shiftright(k, 4)).as("k_xor"),
      shiftleft(k.bitwiseAND(15), 3).as("k_shl"),
      shiftright(k, 2).as("k_shr"),
      bit_count(k).as("k_bits"))
      .orderBy(k)
  }

  /** TPC-H Q18 shape: HAVING over a fact aggregate, joined back through
    * orders to customers — the "large-volume customer" pattern. The
    * HAVING filter runs inside the aggregate (partial+final), so only
    * qualifying orderkeys (a tiny set) flow into the join; Catalyst
    * broadcasts them against orders. */
  def sqlQ18Shape(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT c.c_custkey, o.o_orderkey, t.sum_qty
        |FROM (SELECT l_orderkey,
        |        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS STRING)
        |          AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250) t
        |JOIN orders o ON o.o_orderkey = t.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_orderkey""".stripMargin)

  /** Correlated NOT EXISTS (anti-join decorrelation): market segments of
    * customers who never placed a 400k+ order. Catalyst rewrites the
    * correlated subquery into a left-anti hash join — no per-row
    * subquery execution, one shuffle each side. */
  def sqlExistsShape(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  /** Regex battery: extract / extract-all / count / global replace /
    * match-test. Spark's regexp_replace is global by default; the DuckDB
    * twin needs the explicit 'g' flag — the only cross-engine regex trap
    * here. Map-only. */
  def regexFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
      array_join(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0)),
        "|").as("words"),
      regexp_count(col("p_name"), lit("[a-z]+")).as("n_words"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
      col("p_name").rlike("[0-9]").cast("int").as("has_digit"))
      .orderBy(col("p_partkey"))

  /** TPC-H Q21 shape — "suppliers who kept orders waiting": a late line
    * (shipped >60 days after the order date) where ANOTHER supplier shipped
    * in the same order (EXISTS) but no OTHER supplier shipped late
    * (NOT EXISTS, correlated on both the line and the order). Catalyst
    * rewrites the pair into a left-semi + left-anti hash join on
    * l_orderkey — the decorrelation stress test: two correlated predicates
    * referencing different outer tables, zero per-row subquery execution. */
  def sqlQ21Shape(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT s.s_name, COUNT(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name LIMIT 25""".stripMargin)

  /** TPC-H Q11 shape — groups whose aggregate exceeds a FRACTION of the
    * global total (scalar subquery in HAVING). The global total is one
    * broadcast row; the comparison runs in integer cents × 1000, so which
    * groups qualify is exact integer arithmetic on both engines (a decimal
    * fraction-threshold would round differently at the boundary). The
    * emitted value is the exact-decimal sum. */
  def sqlQ11Shape(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """WITH c AS (SELECT l_partkey,
        |    CAST(floor((l_extendedprice * 100.0) + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM c)
        |SELECT l_partkey,
        |  CAST(CAST(SUM(CAST(cents AS DECIMAL(18,0))) AS STRING) AS DOUBLE)
        |    / 100.0 AS part_value
        |FROM c CROSS JOIN tot
        |GROUP BY l_partkey, t
        |HAVING (CAST(SUM(cents) AS BIGINT) * 1000) > t
        |ORDER BY part_value DESC, l_partkey""".stripMargin)

  /** URL parsing battery (`parse_url` — log/clickstream sanitation):
    * URLs are constructed from part columns ('#' in brand names swapped
    * out — it would start the fragment), then every component is parsed
    * back out. The oracle reconstructs each component directly from the
    * source columns, proving parse_url inverts the construction. Map-only. */
  def urlFuncs(s: SparkSession, d: String): DataFrame = {
    val brand = translate(col("p_brand"), "#", "_")
    val url = concat(lit("https://shop.example.com/p/"), brand,
      lit("?q="), col("p_partkey"), lit("&s="), col("p_size"), lit("#top"))
    Tables.part(s, d).select(
      col("p_partkey"),
      url.as("url"),
      parse_url(url, lit("PROTOCOL")).as("protocol"),
      parse_url(url, lit("HOST")).as("host"),
      parse_url(url, lit("PATH")).as("path"),
      parse_url(url, lit("QUERY")).as("query"),
      parse_url(url, lit("QUERY"), lit("q")).as("q_param"),
      parse_url(url, lit("REF")).as("fragment"))
      .orderBy(col("p_partkey"))
  }

  /** Spark-4 collation battery: UTF8_LCASE-collated grouping and equality
    * over a deterministically mixed-case segment column (case-insensitive
    * comparison as a TYPE property, not a lower() rewrite — Catalyst keeps
    * pushdown/codegen, and at 100 TB the collated groupBy shuffles exactly
    * like a binary one). The emitted key is re-cast to a plain binary
    * string (lower-cased) so the output schema is collation-free and the
    * DuckDB twin is the semantically equal lower() grouping. */
  def collationFuncs(s: SparkSession, d: String): DataFrame = {
    // title-case built from upper/substr (not initcap — DuckDB lacks it)
    val seg = when(col("c_custkey") % 2 === 0,
        concat(upper(expr("substr(c_mktsegment, 1, 1)")),
          lower(expr("substr(c_mktsegment, 2)"))))
      .otherwise(col("c_mktsegment"))
    Tables.customer(s, d)
      .select(col("c_custkey"), seg.as("seg"))
      .groupBy(collate(col("seg"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("seg") === collate(lit("automobile"), "UTF8_LCASE"), 1)
          .otherwise(0)).cast("long").as("n_auto_ci"))
      .select(lower(col("k")).cast("string").as("segment"),
        col("n"), col("n_auto_ci"))
      .orderBy(col("segment"))
  }

  /** SQL PIVOT clause (parser-level pivot — the SQL twin of the
    * DataFrame-API `agg_pivot`): order counts per priority × status.
    * Explicit IN values as always (never let pivot scan for distincts at
    * scale); empty cells are NULL in Spark's pivot, so the oracle wraps
    * its CASE-counts in NULLIF(.., 0). */
  def sqlPivot(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        |PIVOT (COUNT(*) FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p))
        |ORDER BY o_orderpriority""".stripMargin)

  /** SQL UNPIVOT clause (parser twin of the DataFrame `agg_unpivot` melt):
    * wide part metrics → long (metric, val) rows. Spark's UNPIVOT excludes
    * NULL values by default — both source columns are non-null here, and
    * the oracle's UNION ALL form makes the equivalence explicit. */
  def sqlUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT p_partkey, metric, val FROM (
        |  SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
        |    p_retailprice AS price FROM part)
        |UNPIVOT (val FOR metric IN (size, price))
        |ORDER BY p_partkey, metric""".stripMargin)

  /** Named WINDOW clause (SQL parser surface) + the nth_value analytic:
    * one definition shared by several OVER references — rank on the
    * frameless ranking window, first/nth/last on the full-partition
    * frame. The ORDER BY (price DESC, key) is total, so nth_value is
    * deterministic. Same SQL runs on DuckDB (oracle adds only a rank
    * type cast). Scale posture: like win_ranks, the per-priority
    * partitions grow with the corpus — inherent to the per-row analytic
    * output this syntax demo exists to show; the scalable order-statistic
    * forms are the bucket-localized agg_* twins. */
  def sqlNamedWindow(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT * FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    rank() OVER w1 AS rk,
        |    first_value(o_orderkey) OVER w2 AS first_key,
        |    nth_value(o_orderkey, 2) OVER w2 AS second_key,
        |    last_value(o_orderkey) OVER w2 AS last_key
        |  FROM orders
        |  WINDOW
        |    w1 AS (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey),
        |    w2 AS (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |) t WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin)

  /** Time-interval RANGE frame: per-user rolling 1-hour event count and
    * spend — `RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW`
    * over a timestamp ORDER BY, the frame type event analytics needs and
    * numeric rangeBetween can't express. The window is partitioned by
    * user (hash exchange on user_id); spend is summed in exact cents so
    * the frame's add order can't matter. Timestamps are emitted as epoch
    * micros per the portability rule. */
  def sqlTimeRangeWindow(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT user_id, event_id, unix_micros(ts) AS us,
        |  COUNT(*) OVER w AS n_1h,
        |  SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) OVER w AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin)

  /** GROUP BY ALL / ORDER BY ALL (modern SQL-parser surface, Spark 3.4+):
    * grouping keys inferred as every non-aggregate select item, ordering
    * over the full select list — the ergonomics layer analytics SQL
    * increasingly assumes. The oracle spells both lists explicitly, so
    * the gate proves Spark's inference picks exactly the intended keys.
    * Money sums route through exact decimal (OracleSafe convention). */
  def sqlGroupByAll(s: SparkSession, d: String): DataFrame =
    Tables.sql(s, d,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING)
        |    AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)

  override def catalog: Seq[Query] = Seq(
    // Explicit key/order lists — equality proves Spark's ALL inference.
    Query("sql_group_by_all", sqlGroupByAll, Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority, n, total""".stripMargin)),
    Query("sql_time_range_window", sqlTimeRangeWindow, Some(
      """SELECT user_id, event_id, epoch_us(ts) AS us,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) OVER w
        |    AS BIGINT) AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin)),
    Query("sql_named_window", sqlNamedWindow, Some(
      """SELECT o_orderpriority, o_orderkey, CAST(rk AS INT) AS rk,
        |  first_key, second_key, last_key FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    rank() OVER w1 AS rk,
        |    first_value(o_orderkey) OVER w2 AS first_key,
        |    nth_value(o_orderkey, 2) OVER w2 AS second_key,
        |    last_value(o_orderkey) OVER w2 AS last_key
        |  FROM orders
        |  WINDOW
        |    w1 AS (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey),
        |    w2 AS (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |) t WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin)),
    Query("sql_unpivot", sqlUnpivot, Some(
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'price' AS metric, p_retailprice AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin)),
    Query("sql_pivot", sqlPivot, Some(
      """SELECT o_orderpriority,
        |  NULLIF(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS st_o,
        |  NULLIF(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS st_f,
        |  NULLIF(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS st_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Query("scalar_collation", collationFuncs, Some(
      """WITH t AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
        |      ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT lower(seg) AS segment, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN lower(seg) = 'automobile' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_auto_ci
        |FROM t GROUP BY lower(seg) ORDER BY segment""".stripMargin)),
    Query("scalar_url", urlFuncs, Some(
      """SELECT p_partkey,
        |  'https://shop.example.com/p/' || replace(p_brand, '#', '_')
        |    || '?q=' || CAST(p_partkey AS VARCHAR)
        |    || '&s=' || CAST(p_size AS VARCHAR) || '#top' AS url,
        |  'https' AS protocol,
        |  'shop.example.com' AS host,
        |  '/p/' || replace(p_brand, '#', '_') AS path,
        |  'q=' || CAST(p_partkey AS VARCHAR)
        |    || '&s=' || CAST(p_size AS VARCHAR) AS query,
        |  CAST(p_partkey AS VARCHAR) AS q_param,
        |  'top' AS fragment
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("sql_q21_shape", sqlQ21Shape, Some(
      """SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o.o_orderdate + INTERVAL '60' DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name LIMIT 25""".stripMargin)),
    Query("sql_q11_shape", sqlQ11Shape, Some(
      """WITH c AS (SELECT l_partkey,
        |    CAST(floor((l_extendedprice * 100.0) + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM c)
        |SELECT l_partkey,
        |  CAST(CAST(SUM(CAST(cents AS DECIMAL(18,0))) AS VARCHAR) AS DOUBLE)
        |    / 100.0 AS part_value
        |FROM c CROSS JOIN tot
        |GROUP BY l_partkey, t
        |HAVING (CAST(SUM(cents) AS BIGINT) * 1000) > t
        |ORDER BY part_value DESC, l_partkey""".stripMargin)),
    Query("sql_q18_shape", sqlQ18Shape, Some(
      """SELECT c.c_custkey, o.o_orderkey, t.sum_qty
        |FROM (SELECT l_orderkey,
        |        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR)
        |          AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250) t
        |JOIN orders o ON o.o_orderkey = t.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_orderkey""".stripMargin)),
    Query("sql_exists_shape", sqlExistsShape, Some(
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("scalar_regex", regexFuncs, Some(
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  array_to_string(regexp_extract_all(p_name, '[a-z]+', 0), '|')
        |    AS words,
        |  len(regexp_extract_all(p_name, '[a-z]+', 0)) AS n_words,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
        |  CAST(regexp_matches(p_name, '[0-9]') AS INT) AS has_digit
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("scalar_bitwise", bitwiseFuncs, Some(
      """SELECT p_partkey,
        |  p_partkey & 255 AS k_and,
        |  p_partkey | 1024 AS k_or,
        |  xor(p_partkey, p_partkey >> 4) AS k_xor,
        |  (p_partkey & 15) << 3 AS k_shl,
        |  p_partkey >> 2 AS k_shr,
        |  bit_count(p_partkey) AS k_bits
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("scalar_try", tryBattery, Some(
      """SELECT o_orderkey,
        |  o_totalprice / NULLIF(CAST(o_custkey % 3 AS DOUBLE), 0.0) AS div_or_null,
        |  CAST([1, 2, 3][5] AS BIGINT) AS oob_elem,
        |  TRY_CAST(o_orderpriority AS INT) AS bad_int,
        |  TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_num
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin)),
    Query("scalar_variant", variantBattery, Some(
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
        |  CAST(json_extract(props, '$.k') AS DOUBLE) AS k_double,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract(props, '$.missing') AS BIGINT) AS k_missing
        |FROM events ORDER BY event_id""".stripMargin)),
    Query("sql_lateral_topn", sqlLateralTopN, Some(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c.c_custkey <= 300
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)),
    Query("scalar_maps", mapFuncs, Some(
      """SELECT p_partkey,
        |  p_brand AS first_entry_value,
        |  2 AS m_size,
        |  p_brand AS brand_val,
        |  'brand,type' AS keys_joined,
        |  upper(p_type) AS type_upper,
        |  1 AS has_brand
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("sql_corr_subquery", sqlCorrelatedSubquery, Some(
      """SELECT o_orderkey, o_custkey
        |FROM orders o
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |       / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),
    Query("sql_q5_shape", sqlQ5Shape, Some(
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |    * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),
    Query("scalar_strings", stringFuncs, Some(
      """SELECT p_partkey,
        |  lower(p_name) AS lower_name, upper(p_brand) AS upper_brand,
        |  length(p_name) AS name_len, substring(p_name, 1, 5) AS name_head,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  string_split(p_name, ' ')[1] AS first_word,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        |  trim('  pad  ') AS trimmed, lpad(p_brand, 12, '0') AS padded,
        |  CAST(starts_with(p_name, 'small') AS INT) AS is_small,
        |  CAST(contains(p_name, 'bolt') AS INT) AS has_bolt
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("scalar_dates", dateFuncs, Some(
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  dayofmonth(o_orderdate) AS dom,
        |  dayofweek(o_orderdate) + 1 AS dow_spark,
        |  quarter(o_orderdate) AS qtr,
        |  CAST(datetrunc('month', o_orderdate) AS DATE) AS month_start,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
        |  (2002 - year(o_orderdate)) * 12 + (1 - month(o_orderdate)) AS months_to_2002,
        |  CAST(o_orderdate AS DATE) + 90 AS due_date,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso_day
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Query("scalar_math", mathFuncs, Some(
      """SELECT p_partkey,
        |  abs(p_size - 25) AS abs_off,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ceil_price,
        |  CAST(floor(p_retailprice) AS BIGINT) AS floor_price,
        |  round(p_retailprice, 0) AS round_price,
        |  sqrt(CAST(p_size AS DOUBLE)) AS sqrt_size,
        |  pow(CAST(p_size AS DOUBLE), 2) AS size_sq,
        |  greatest(p_size, 10) AS at_least_10,
        |  least(p_size, 40) AS at_most_40,
        |  p_partkey % 7 AS key_mod7,
        |  CAST(sign(p_size - 25) AS INT) AS size_sign
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("scalar_arrays", arrayFuncs, Some(
      """SELECT p_partkey, p_size,
        |  len(generate_series(1, p_size)) AS seq_len,
        |  CAST(list_sum(list_transform(generate_series(1, p_size), x -> x * x)) AS BIGINT) AS sum_squares,
        |  CAST(COALESCE(list_sum(list_filter(generate_series(1, p_size), x -> x % 2 = 0)), 0) AS BIGINT) AS sum_evens,
        |  CAST(list_contains(generate_series(1, p_size), 5) AS INT) AS has_5,
        |  generate_series(1, p_size)[-1] AS last_elem,
        |  CAST(list_sum(generate_series(1, p_size)[1:least(3, p_size)]) AS BIGINT) AS sum_first3,
        |  array_to_string(list_transform(generate_series(1, least(p_size, 4)),
        |    x -> CAST(x AS VARCHAR)), '-') AS joined
        |FROM part WHERE p_size <= 10 ORDER BY p_partkey""".stripMargin)),
    Query("scalar_json", jsonFuncs, Some(
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_num,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_struct,
        |  to_json(struct_pack(t := event_type, u := user_id)) AS packed,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_tuple
        |FROM events ORDER BY event_id""".stripMargin)),
  )
}
