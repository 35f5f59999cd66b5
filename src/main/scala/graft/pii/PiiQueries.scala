package graft.pii

import graft.{Query, QueryModule, Tables}
import graft.OracleSafe.d2d
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered carpet-core queries: each exercises one Redact action over the
  * `customer` table and emits a deterministic, oracle-checkable projection.
  * All are map-only plans (no shuffle beyond the final order-by). */
object PiiQueries extends QueryModule {

  def dropColumns(s: SparkSession, d: String): DataFrame =
    Redact(Tables.customer(s, d), Seq(Redact.Drop("c_name")))
      .orderBy(col("c_custkey"))

  def hashPseudonym(s: SparkSession, d: String): DataFrame =
    Redact(Tables.customer(s, d),
        Seq(Redact.HashPseudonym("c_name", salt = "pepper42")))
      .select(col("c_custkey"), col("c_name").as("name_pseudo"))
      .orderBy(col("c_custkey"))

  def partialMask(s: SparkSession, d: String): DataFrame =
    Redact(Tables.customer(s, d), Seq(Redact.PartialMask("c_name", keep = 4)))
      .select(col("c_custkey"), col("c_name").as("name_masked"))
      .orderBy(col("c_custkey"))

  def nullifyAndConstant(s: SparkSession, d: String): DataFrame =
    Redact(Tables.customer(s, d), Seq(
        Redact.Nullify("c_acctbal"),
        Redact.Constant("c_mktsegment", "[REDACTED]")))
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  def conditionalRedact(s: SparkSession, d: String): DataFrame =
    Redact(Tables.customer(s, d), Seq(
        Redact.When("c_name", col("c_acctbal") < 0, lit("[DELINQUENT]"))))
      .select(col("c_custkey"), col("c_name").as("name_checked"))
      .orderBy(col("c_custkey"))

  /** Nested-struct surgery: pack customer fields into a 2-level struct, then
    * drop / hash / mask INSIDE the struct via recursive rebuild, then flatten
    * for the oracle (structs don't hash-compare portably). */
  def nestedRedact(s: SparkSession, d: String): DataFrame = {
    val packed = Tables.customer(s, d).select(
      col("c_custkey"),
      struct(
        col("c_name").as("name"),
        col("c_acctbal").as("acctbal"),
        struct(col("c_mktsegment").as("segment"),
               col("c_nationkey").as("nationkey")).as("seg")
      ).as("profile"))
    Redact(packed, Seq(
        Redact.Drop("profile.name"),
        Redact.HashPseudonym("profile.seg.segment", salt = "pepper42"),
        Redact.Nullify("profile.acctbal")))
      .select(
        col("c_custkey"),
        col("profile.acctbal").as("acctbal_redacted"),
        col("profile.seg.segment").as("segment_pseudo"),
        col("profile.seg.nationkey").as("nationkey"))
      .orderBy(col("c_custkey"))
  }

  /** The carpet CLI's whole job as one pipeline: read → drop + mask + hash →
    * schema-preserving write shape (the write itself happens in Verify). */
  def sweepPipeline(s: SparkSession, d: String): DataFrame =
    Redact(Tables.customer(s, d), Seq(
        Redact.Drop("c_acctbal"),
        Redact.HashPseudonym("c_name", salt = "pepper42"),
        Redact.PartialMask("c_mktsegment", keep = 2)))
      .orderBy(col("c_custkey"))

  /** Content-level scrubbing — PII *inside* free text, not just whole
    * columns: detect + replace emails, phone numbers, and IPv4 addresses
    * (last octet masked, keeping the /24 for analytics) via codegen'd
    * regexp_replace. The note text is built deterministically from customer
    * columns so the oracle derives the identical corpus. Map-only: at 100 TB
    * this is a pure scan→project plan, no shuffle before the final sort. */
  def textScrub(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+\\d[\\d-]{6,}\\d"
    val ipPat    = "(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\.\\d{1,3}"
    val note = concat(
      lit("Reach "), col("c_name"),
      lit(" at "), lower(col("c_mktsegment")), lit(".user"),
      col("c_custkey").cast("string"),
      lit("@mail.example.org or +1-555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(", last login from 10."), col("c_nationkey").cast("string"),
      lit(".0."), (col("c_custkey") % 256).cast("string"))
    Tables.customer(s, d)
      .withColumn("note", note)
      .select(col("c_custkey"),
        size(regexp_extract_all(col("note"), lit(emailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("note"), lit(phonePat), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(col("note"), lit(ipPat), lit(0))).cast("long").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("note"), emailPat, "[EMAIL]"),
            phonePat, "[PHONE]"),
          ipPat, "$1.x").as("note_scrubbed"))
      .orderBy(col("c_custkey"))
  }

  /** k-anonymity / l-diversity audit — the risk report a PII tool runs
    * BEFORE releasing a "de-identified" extract: group sizes over the
    * quasi-identifier tuple (nation, market segment) plus the count of
    * distinct sensitive values (account-balance band) per group. Groups
    * with n < k are re-identifiable by linkage; groups with one sensitive
    * value leak it even at k. One partial+final aggregate over the
    * quasi-identifier key — |groups| rows of output at any scale. */
  def kAnonymity(s: SparkSession, d: String): DataFrame = {
    val band = floor(col("c_acctbal") / lit(1000.0)).cast("long")
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("group_n"),
        countDistinct(band).as("n_sensitive"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("group_n"),
        col("n_sensitive"),
        when(col("group_n") >= 10, 1).otherwise(0).as("meets_k"),
        when(col("n_sensitive") >= 3, 1).otherwise(0).as("meets_l"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** Format-preserving tokenization: every digit in the value is replaced
    * by a keyed-hash-derived digit (position- and value-dependent), all
    * other characters pass through — so downstream parsers that expect the
    * original shape ("Customer#<9 digits>") keep working, but the
    * identifier is unlinkable without the key. Deterministic: the same
    * input always yields the same token (join-consistent pseudonyms across
    * tables), unlike random tokenization. Map-only; the per-char transform
    * is a codegen'd higher-order function, no UDF. */
  def fpeTokenize(s: SparkSession, d: String): DataFrame = {
    val name = col("c_name")
    val token = array_join(
      transform(sequence(lit(1), length(name)), i => {
        val ch = name.substr(i, lit(1))
        val digit = conv(substring(md5(concat(
          lit("fpe1:"), name, lit(":"), (i - 1).cast("string"),
          lit(":"), ch)), 1, 8), 16, 10).cast("long") % 10
        when(ch.between("0", "9"), digit.cast("string")).otherwise(ch)
      }), "")
    Tables.customer(s, d)
      .select(col("c_custkey"), token.as("token"))
      .orderBy(col("c_custkey"))
  }

  /** t-closeness audit — the third leg of the anonymization triad after
    * k-anonymity and l-diversity (both in [[kAnonymity]]): for every
    * quasi-identifier group, the total-variation distance between the
    * group's sensitive-attribute distribution (account-balance band) and
    * the global one. Everything is exact: TVD = Σ|c_gb·N − c_b·n_g| /
    * (2·n_g·N), so the numerator is an exact BIGINT sum over the ≤|bands|
    * grid, the readout is ONE division, and the t ≤ 0.2 gate is the pure
    * integer comparison 5·num ≤ 2·n_g·N (no float threshold). Scale: one
    * pass to the (group, band) cells; the grid join is groups × ≤11
    * bands, broadcast. */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"))
    val cells = cust.groupBy(col("c_nationkey"), col("c_mktsegment"),
        col("band"))
      .agg(count(lit(1)).as("c_gb"))
    val groups = cells.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("c_gb")).as("n_g"))
    val bands = cust.groupBy(col("band")).agg(count(lit(1)).as("c_b"))
    val tot = cust.agg(count(lit(1)).as("n"))
    groups.crossJoin(broadcast(bands))
      .join(cells, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .crossJoin(broadcast(tot))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"), col("n"),
        abs(coalesce(col("c_gb"), lit(0L)) * col("n") -
          col("c_b") * col("n_g")).as("term"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n_g"), col("n"))
      .agg(sum(col("term")).as("tvd_num"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n_g"),
        col("tvd_num"),
        (col("tvd_num").cast("double") /
          (lit(2L) * col("n_g") * col("n")).cast("double")).as("tvd"),
        when(lit(5L) * col("tvd_num") <= lit(2L) * col("n_g") * col("n"), 1L)
          .otherwise(0L).as("meets_t"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** K-anonymity ENFORCEMENT (the action `pii_k_anonymity`'s audit asks
    * for): a generalize-then-suppress ladder over the quasi-identifiers
    * (nation, balance band, market segment) with k = 10. Level 1 keeps
    * (nation, $1000 band, segment) when its group already has ≥ k members;
    * undersized groups escalate to level 2 (region, $2000 band, segment)
    * re-counted over the escalated rows only; still-undersized groups are
    * fully suppressed ('*'). Deterministic — no noise — so the oracle
    * reproduces it exactly. Plan: two broadcast dim joins + two keyed
    * counts over progressively smaller remainders; nothing holds more than
    * a group count, so it carries to 100 TB. */
  def generalizeK(s: SparkSession, d: String): DataFrame = {
    val k = 10
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_name"),
        col("r_name"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band1"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("band2"))
    val s1 = cust.groupBy(col("n_name"), col("band1"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz1"))
    val j1 = cust.join(s1, Seq("n_name", "band1", "c_mktsegment"))
    val lvl1 = j1.filter(col("sz1") >= k)
      .select(col("c_custkey"), lit(1).as("gen_level"),
        col("n_name").as("gen_geo"),
        concat(lit("b1k_"), col("band1")).as("gen_bal"),
        col("c_mktsegment").as("gen_segment"))
    val rest = j1.filter(col("sz1") < k)
    val s2 = rest.groupBy(col("r_name"), col("band2"), col("c_mktsegment"))
      .agg(count(lit(1)).as("sz2"))
    val j2 = rest.join(s2, Seq("r_name", "band2", "c_mktsegment"))
    val lvl2 = j2.filter(col("sz2") >= k)
      .select(col("c_custkey"), lit(2).as("gen_level"),
        col("r_name").as("gen_geo"),
        concat(lit("b2k_"), col("band2")).as("gen_bal"),
        col("c_mktsegment").as("gen_segment"))
    val lvl3 = j2.filter(col("sz2") < k)
      .select(col("c_custkey"), lit(3).as("gen_level"),
        lit("*").as("gen_geo"), lit("*").as("gen_bal"),
        lit("*").as("gen_segment"))
    lvl1.unionByName(lvl2).unionByName(lvl3).orderBy(col("c_custkey"))
  }

  /** Differentially-private count release (ε = 1 Laplace mechanism, the
    * noisy-histogram publication step after k-anonymity): per-segment
    * customer counts plus Laplace(1/ε) noise derived from a SEEDED
    * md5-uniform via the inverse CDF — deterministic and reproducible
    * across runs/engines (real DP deployments would use a fresh RNG; the
    * seeded form keeps the release auditable and the oracle exact). The
    * noise dag is u → −sign(u−½)·b·ln(1−2|u−½|); ln is the one
    * transcendental, so the released value rounds to 6 dp on both engines
    * (the repo's standard StrictMath-vs-libm absorption). Counts reduce
    * BEFORE noise — the noisy projection touches |segments| rows. */
  def dpCounts(s: SparkSession, d: String): DataFrame = {
    val eps = 1.0
    val u = (conv(substring(md5(concat(lit("dp:"), col("c_mktsegment"))), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("true_n"))
      .withColumn("u", u)
      .withColumn("noise",
        round(-signum(col("u") - 0.5) * lit(1.0 / eps) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 6))
      .select(col("c_mktsegment"), col("true_n"),
        col("noise"), round(col("true_n") + col("noise"), 6).as("released_n"))
      .orderBy(col("c_mktsegment"))
  }

  /** Cross-table consistent pseudonymization — the property that makes
    * tokenization USEFUL, not just safe: the same salted-hash token
    * replaces c_custkey in `customer` and o_custkey in `orders`, and the
    * analytics join runs ON THE TOKENS. The oracle computes the same
    * per-segment rollup through the CLEAR keys, so a hash-exact pass
    * proves referential integrity survives tokenization (same key → same
    * token everywhere, and no cross-key collisions merged groups). The
    * token join is hash-partitioned exactly like the clear join would be —
    * pseudonymization costs one map-side sha256 per side, nothing else. */
  def xtableConsistency(s: SparkSession, d: String): DataFrame = {
    def tok(c: Column): Column =
      sha2(concat(c.cast("string"), lit("\u001f"), lit("pepper42")), 256)
    val cust = Tables.customer(s, d)
      .select(tok(col("c_custkey")).as("ctoken"), col("c_mktsegment"))
    val ord = Tables.orders(s, d).select(tok(col("o_custkey")).as("otoken"))
    cust.join(ord, cust("ctoken") === ord("otoken"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("ctoken")).as("n_customers"),
        count(col("otoken")).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** PII DISCOVERY scan — the content-profiling step BEFORE any redaction
    * policy exists: every string column of a table is sampled against a
    * battery of PII detector regexes (email, phone, IPv4) and reported as
    * (column, class, rows, hits, hit rate, flagged) — the report a
    * governance tool uses to decide which columns need [[textScrub]] /
    * [[Redact]] rules. The column axis unpivots via `stack` (map-only,
    * row count × |columns|), the detector axis via a 3-element literal
    * explode; `flagged` uses the integer cross-multiply 10·hits ≥ rows
    * (i.e. rate ≥ 10%), so no float threshold is compared. The note
    * column is synthesized exactly as in [[textScrub]] so detectors have
    * real content to fire on. Scale: scan → stack → explode → one
    * partial+final aggregate over ≤ |cols|·|classes| groups; a production
    * run adds TABLESAMPLE in front — the shape is unchanged. */
  def scanReport(s: SparkSession, d: String): DataFrame = {
    val pats = Seq(
      "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "phone" -> "\\+\\d[\\d-]{6,}\\d",
      "ipv4"  -> "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}")
    val note = concat(
      lit("Reach "), col("c_name"),
      lit(" at "), lower(col("c_mktsegment")), lit(".user"),
      col("c_custkey").cast("string"),
      lit("@mail.example.org or +1-555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(", last login from 10."), col("c_nationkey").cast("string"),
      lit(".0."), (col("c_custkey") % 256).cast("string"))
    Tables.customer(s, d)
      .withColumn("note", note)
      .select(expr("stack(3, 'c_name', c_name, 'c_mktsegment', " +
        "c_mktsegment, 'note', note) AS (col_name, val)"))
      .select(col("col_name"), col("val"),
        explode(array(pats.map { case (cls, p) =>
          struct(lit(cls).as("pii_class"), lit(p).as("pat"))
        }: _*)).as("p"))
      .select(col("col_name"), col("p.pii_class").as("pii_class"),
        when(expr("regexp_like(val, p.pat)"), 1L).otherwise(0L).as("hit"))
      .groupBy(col("col_name"), col("pii_class"))
      .agg(count(lit(1)).as("n_rows"), sum(col("hit")).cast("long").as("n_hits"))
      .select(col("col_name"), col("pii_class"), col("n_rows"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_rows").cast("double"))
          .as("hit_rate"),
        when(col("n_hits") * 10 >= col("n_rows"), 1).otherwise(0)
          .cast("int").as("flagged"))
      .orderBy(col("col_name"), col("pii_class"))
  }

  /** Differentially-private MEAN release — the continuous-statistic twin
    * of [[dpCounts]]: account balances are CLIPPED to [0, 5000] (bounding
    * each record's contribution — the step that makes the sensitivity
    * Δ = clip/1 finite), the clipped sum takes Laplace(Δ/ε) noise from
    * the same deterministic md5-uniform inverse-CDF (seeded per group, so
    * the release is reproducible and oracle-checkable), and the noisy
    * mean divides by the true count. Clipped sums are exact decimal; the
    * ln in the noise rounds to 6 both sides (repo convention). Map-side
    * clip + one aggregate — the released table is |groups| rows. */
  def dpMean(s: SparkSession, d: String): DataFrame = {
    val eps = 1.0
    val clipHi = 5000.0
    val u = (conv(substring(md5(concat(lit("dpm:"), col("c_mktsegment"))),
      1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    val clipped = greatest(lit(0.0), least(lit(clipHi), col("c_acctbal")))
    Tables.customer(s, d)
      .withColumn("cv", clipped)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        d2d(sum(col("cv").cast("decimal(18,4)")))
          .as("true_sum"))
      .withColumn("u", u)
      .withColumn("noise",
        round(-signum(col("u") - 0.5) * lit(clipHi / eps) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 6))
      .select(col("c_mktsegment"), col("n"),
        (col("true_sum") / col("n").cast("double")).as("true_mean"),
        col("noise"),
        round((col("true_sum") + col("noise")) / col("n").cast("double"), 6)
          .as("released_mean"))
      .orderBy(col("c_mktsegment"))
  }

  override def catalog: Seq[Query] = Seq(
    Query("pii_dp_mean", dpMean, Some(
      """WITH g AS (
        |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(greatest(0.0, least(5000.0, c_acctbal))
        |      AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS true_sum,
        |    (CAST(CAST(('0x' || substring(md5('dpm:' || c_mktsegment), 1, 8))
        |      AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        |  FROM customer GROUP BY c_mktsegment),
        |t AS (SELECT *,
        |  round(-sign(u - 0.5) * 5000.0 *
        |    ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise FROM g)
        |SELECT c_mktsegment, n, true_sum / CAST(n AS DOUBLE) AS true_mean,
        |  noise,
        |  round((true_sum + noise) / CAST(n AS DOUBLE), 6) AS released_mean
        |FROM t ORDER BY c_mktsegment""".stripMargin)),
    Query("pii_scan_report", scanReport, Some(
      """WITH t AS (
        |  SELECT c_name, c_mktsegment,
        |    'Reach ' || c_name || ' at ' || lower(c_mktsegment) || '.user' ||
        |    CAST(c_custkey AS VARCHAR) || '@mail.example.org or +1-555-' ||
        |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |    ', last login from 10.' || CAST(c_nationkey AS VARCHAR) ||
        |    '.0.' || CAST(c_custkey % 256 AS VARCHAR) AS note
        |  FROM customer),
        |stacked AS (
        |  SELECT 'c_name' AS col_name, c_name AS val FROM t
        |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM t
        |  UNION ALL SELECT 'note', note FROM t),
        |pats AS (SELECT * FROM (VALUES
        |  ('email', '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'),
        |  ('phone', '\+\d[\d-]{6,}\d'),
        |  ('ipv4', '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}'))
        |  p(pii_class, pat)),
        |hits AS (
        |  SELECT col_name, pii_class,
        |    CASE WHEN regexp_matches(val, pat) THEN 1 ELSE 0 END AS hit
        |  FROM stacked CROSS JOIN pats),
        |agg AS (
        |  SELECT col_name, pii_class, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(hit) AS BIGINT) AS n_hits
        |  FROM hits GROUP BY 1, 2)
        |SELECT col_name, pii_class, n_rows, n_hits,
        |  CAST(n_hits AS DOUBLE) / CAST(n_rows AS DOUBLE) AS hit_rate,
        |  CAST(CASE WHEN n_hits * 10 >= n_rows THEN 1 ELSE 0 END AS INT)
        |    AS flagged
        |FROM agg ORDER BY col_name, pii_class""".stripMargin)),
    // Deliberately joins on the CLEAR keys: equality with the Spark side's
    // token join proves cross-table pseudonym consistency.
    Query("pii_xtable_consistency", xtableConsistency, Some(
      """SELECT c.c_mktsegment,
        |  COUNT(DISTINCT c.c_custkey) AS n_customers,
        |  CAST(COUNT(o.o_custkey) AS BIGINT) AS n_orders
        |FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("pii_dp_counts", dpCounts, Some(
      """WITH t AS (
        |  SELECT c_mktsegment, COUNT(*) AS true_n,
        |    (CAST(CAST(('0x' || substring(md5('dp:' || c_mktsegment), 1, 8))
        |       AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_mktsegment, true_n,
        |  round(-sign(u - 0.5) * 1.0 * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
        |    AS noise,
        |  round(true_n
        |    + round(-sign(u - 0.5) * 1.0 * ln(1.0 - 2.0 * abs(u - 0.5)), 6),
        |    6) AS released_n
        |FROM t ORDER BY c_mktsegment""".stripMargin)),
    Query("pii_generalize", generalizeK, Some(
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, n_name, r_name,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band1,
        |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band2
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |s1 AS (SELECT n_name, band1, c_mktsegment, COUNT(*) AS sz1
        |  FROM cust GROUP BY n_name, band1, c_mktsegment),
        |j1 AS (SELECT cust.*, s1.sz1 FROM cust
        |  JOIN s1 USING (n_name, band1, c_mktsegment)),
        |rest AS (SELECT * FROM j1 WHERE sz1 < 10),
        |s2 AS (SELECT r_name, band2, c_mktsegment, COUNT(*) AS sz2
        |  FROM rest GROUP BY r_name, band2, c_mktsegment),
        |j2 AS (SELECT rest.*, s2.sz2 FROM rest
        |  JOIN s2 USING (r_name, band2, c_mktsegment))
        |SELECT c_custkey, 1 AS gen_level, n_name AS gen_geo,
        |  'b1k_' || CAST(band1 AS VARCHAR) AS gen_bal,
        |  c_mktsegment AS gen_segment
        |FROM j1 WHERE sz1 >= 10
        |UNION ALL
        |SELECT c_custkey, 2, r_name, 'b2k_' || CAST(band2 AS VARCHAR),
        |  c_mktsegment
        |FROM j2 WHERE sz2 >= 10
        |UNION ALL
        |SELECT c_custkey, 3, '*', '*', '*' FROM j2 WHERE sz2 < 10
        |ORDER BY c_custkey""".stripMargin)),
    Query("pii_k_anonymity", kAnonymity, Some(
      """SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS group_n,
        |  CAST(COUNT(DISTINCT CAST(floor(c_acctbal/1000.0) AS BIGINT)) AS BIGINT)
        |    AS n_sensitive,
        |  CASE WHEN COUNT(*) >= 10 THEN 1 ELSE 0 END AS meets_k,
        |  CASE WHEN COUNT(DISTINCT CAST(floor(c_acctbal/1000.0) AS BIGINT)) >= 3
        |    THEN 1 ELSE 0 END AS meets_l
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("pii_t_closeness", tCloseness, Some(
      """WITH cust AS MATERIALIZED (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer),
        |cells AS MATERIALIZED (
        |  SELECT c_nationkey, c_mktsegment, band,
        |    CAST(COUNT(*) AS BIGINT) AS c_gb
        |  FROM cust GROUP BY 1, 2, 3),
        |groups AS MATERIALIZED (
        |  SELECT c_nationkey, c_mktsegment, CAST(SUM(c_gb) AS BIGINT) AS n_g
        |  FROM cells GROUP BY 1, 2),
        |bands AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS c_b
        |  FROM cust GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
        |num AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, t.n,
        |    CAST(SUM(ABS(COALESCE(c.c_gb, 0) * t.n - b.c_b * g.n_g))
        |      AS BIGINT) AS tvd_num
        |  FROM groups g
        |  CROSS JOIN bands b
        |  CROSS JOIN tot t
        |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
        |    AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band
        |  GROUP BY 1, 2, 3, 4)
        |SELECT c_nationkey, c_mktsegment, n_g, tvd_num,
        |  CAST(tvd_num AS DOUBLE) / CAST(2 * n_g * n AS DOUBLE) AS tvd,
        |  CASE WHEN 5 * tvd_num <= 2 * n_g * n
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS meets_t
        |FROM num ORDER BY 1, 2""".stripMargin)),
    Query("pii_fpe_tokenize", fpeTokenize, Some(
      """SELECT c_custkey,
        |  array_to_string([CASE WHEN substring(c_name, i, 1) BETWEEN '0' AND '9'
        |    THEN CAST(CAST(('0x' || substring(md5('fpe1:' || c_name || ':' ||
        |      CAST(i-1 AS VARCHAR) || ':' || substring(c_name, i, 1)), 1, 8))
        |      AS BIGINT) % 10 AS VARCHAR)
        |    ELSE substring(c_name, i, 1) END
        |    for i in range(1, length(c_name)+1)], '') AS token
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_text_scrub", textScrub, Some(
      """WITH t AS (
        |  SELECT c_custkey,
        |    'Reach ' || c_name || ' at ' || lower(c_mktsegment) || '.user' ||
        |    CAST(c_custkey AS VARCHAR) || '@mail.example.org or +1-555-' ||
        |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |    ', last login from 10.' || CAST(c_nationkey AS VARCHAR) ||
        |    '.0.' || CAST(c_custkey % 256 AS VARCHAR) AS note
        |  FROM customer)
        |SELECT c_custkey,
        |  len(regexp_extract_all(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(note, '\+\d[\d-]{6,}\d')) AS n_phones,
        |  len(regexp_extract_all(note, '(\d{1,3}\.\d{1,3}\.\d{1,3})\.\d{1,3}')) AS n_ips,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\+\d[\d-]{6,}\d', '[PHONE]', 'g'),
        |    '(\d{1,3}\.\d{1,3}\.\d{1,3})\.\d{1,3}', '\1.x', 'g') AS note_scrubbed
        |FROM t ORDER BY c_custkey""".stripMargin)),
    Query("pii_drop", dropColumns, Some(
      """SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_hash", hashPseudonym, Some(
      """SELECT c_custkey, sha256(c_name || chr(31) || 'pepper42') AS name_pseudo
         |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_partial_mask", partialMask, Some(
      """SELECT c_custkey,
        |  repeat('*', greatest(length(c_name) - 4, 0)) || right(c_name, 4) AS name_masked
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_null_const", nullifyAndConstant, Some(
      """SELECT c_custkey, CAST(NULL AS DOUBLE) AS c_acctbal,
        |  '[REDACTED]' AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_conditional", conditionalRedact, Some(
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN '[DELINQUENT]' ELSE c_name END AS name_checked
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_nested", nestedRedact, Some(
      """SELECT c_custkey, CAST(NULL AS DOUBLE) AS acctbal_redacted,
        |  sha256(c_mktsegment || chr(31) || 'pepper42') AS segment_pseudo,
        |  c_nationkey AS nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("pii_sweep", sweepPipeline, Some(
      """SELECT c_custkey, sha256(c_name || chr(31) || 'pepper42') AS c_name,
        |  c_nationkey,
        |  repeat('*', greatest(length(c_mktsegment) - 2, 0)) || right(c_mktsegment, 2) AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin)),
  )
}
