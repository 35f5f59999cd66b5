package graft.sources

import graft.{Query, QueryModule, Scratch, Tables}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The rest of the Delta/Iceberg-class lakehouse surface, built on the same
  * primitives as [[Sources]] (epoch-addressed rewrites, file-level txn log,
  * `_metadata.file_path` audits): VACUUM with retention, a change-data-feed
  * derived from the file-level diff of a copy-on-write commit, min/max
  * stats-based file skipping, and an EXECUTED Z-order layout that proves
  * both-dimension pruning against a linear layout.
  *
  * Shared design rules (SURVEY.md §2.13 layout family):
  *  - base lakes that are only READ are cached per sf (`Scratch.lake`:
  *    built in a temp dir, published by atomic rename); anything a query
  *    MUTATES (vacuum) or REWRITES (epoch dirs) lives in a per-invocation
  *    `Scratch.fresh` dir so two live plans never race
  *    overwrite-vs-lazy-read;
  *  - every physical claim (file counts, pruning) is measured from REAL
  *    files — `_metadata.file_path` or a `binaryFile` listing — never from
  *    what the plan intended to write;
  *  - no driver-side collect: file sets move through joins; physical
  *    deletes run executor-side via `foreach` (the object-store bulk-delete
  *    shape);
  *  - the oracle recomputes every output column closed-form from the raw
  *    table, so a hash match proves the physical operation preserved (or
  *    removed) exactly the intended bytes.
  */
object Lakehouse extends QueryModule {

  private def cents(c: Column): Column =
    floor(c * 100.0 + 0.5).cast("long")

  /** 20-bit Morton interleave of two 10-bit dims (x at even bits, y odd) —
    * the [[Sources.zorderKey]] formula, applied here to a physical layout. */
  private def morton(x: Column, y: Column): Column =
    (0 until 10).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private val sqlZ: String = (0 until 10).map { i =>
    s"((((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1}))"
  }.mkString(" + ")

  /** Real on-disk parquet listing of a data dir (recursive, data files
    * only) — the ground truth a vacuum audit must measure, independent of
    * the log that *claims* what exists. */
  private def diskListing(s: SparkSession, dirs: String*): DataFrame =
    dirs.map { dir =>
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(dir).select(col("path"))
    }.reduce(_ unionByName _)

  /** VACUUM with retention 0 — the maintenance op that makes rewrites pay
    * off: after [[Sources.timeTravel]]-style commit 1 (delete key%640 rows,
    * pack each touched-bucket PAIR into one file), the replaced base files
    * are still on disk, readable by snapshot(0) but dead weight at the
    * current version. VACUUM resolves the doomed set FROM THE LOG (paths
    * removed at any committed version and never re-added — pure joins, no
    * driver listing), materializes it, and deletes executor-side via
    * `foreach` (the parallel object-store bulk delete; retention 0 here,
    * so time travel to v0 is knowingly sacrificed — exactly Delta's
    * documented VACUUM trade). The audit is measured, not claimed: file
    * counts come from REAL `binaryFile` listings taken before and after
    * the delete (the before-listing is materialized to parquet first, so
    * the lazy plan cannot accidentally observe the post-delete state), and
    * the surviving snapshot(1) is re-read through log replay AFTER the
    * vacuum, proving retention removed only dead files. The whole lake is
    * per-invocation (`Scratch.fresh`) because this query mutates it, so it is
    * bounded to a fixed 32768-key maintenance unit — the granularity a
    * real system vacuums at (per table partition, never per table); the
    * bucket/modulus algebra is identical at any size. Oracle: every count
    * closed-form from that algebra. */
  def vacuum(s: SparkSession, d: String): DataFrame = {
    val run = Scratch.fresh("vacuum")
    val base = s"$run/base"
    val e1 = s"$run/epoch=1"
    val logDir = s"$run/log"
    val audit = s"$run/audit"
    Tables.orders(s, d).filter(col("o_orderkey") < 32768)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"),
        expr("o_orderkey div 256").as("fb"))
      .transform(df => Sources.writeParts(s, df, col("fb")))
      .write.mode("overwrite").partitionBy("fb").parquet(base)
    val baseDf = s.read.option("basePath", base).parquet(base)
      .select(col("o_orderkey"), col("cents"), col("fb").cast("long").as("fb"),
        col("_metadata.file_path").as("path"))
    TxnProtocol.commit(logDir, 0, baseDf)
    val touched = Tables.orders(s, d)
      .filter(col("o_orderkey") < 32768 && col("o_orderkey") % 640 === 0)
      .select(expr("o_orderkey div 256").as("fb")).distinct()
    val affected = baseDf.join(broadcast(touched), Seq("fb"))
    affected.filter(col("o_orderkey") % 640 =!= 0)
      .select(col("o_orderkey"), col("cents"), expr("fb div 2").as("gb"))
      .transform(df => Sources.writeParts(s, df, col("gb")))
      .write.mode("overwrite").partitionBy("gb").parquet(e1)
    val e1Df = s.read.option("basePath", e1).parquet(e1)
      .select(col("o_orderkey"), col("cents"),
        col("_metadata.file_path").as("path"))
    TxnProtocol.commit(logDir, 1, e1Df, Some(affected))
    // Ground-truth listing BEFORE the delete, pinned to parquet.
    diskListing(s, base, e1).write.mode("overwrite").parquet(s"$audit/before")
    val log = TxnProtocol.log(s, logDir)
    val live = TxnProtocol.live(log, 1)
    // Doomed = removed at a committed version and not in the live set
    // — the general rule; this log has no re-adds.
    log.filter(col("action") === "remove").select(col("path")).distinct()
      .join(live, Seq("path"), "left_anti")
      .write.mode("overwrite").parquet(s"$audit/doomed")
    s.read.parquet(s"$audit/doomed").foreach { r =>
      Files.deleteIfExists(Paths.get(new java.net.URI(r.getString(0)))); ()
    }
    // Everything below is constructed AFTER the physical delete, so the
    // file listings underneath see the post-vacuum disk.
    val nBefore = s.read.parquet(s"$audit/before")
      .agg(count(lit(1)).as("n_files_before"))
    val nVac = s.read.parquet(s"$audit/doomed")
      .agg(count(lit(1)).as("n_vacuumed"))
    val nAfter = diskListing(s, base, e1).agg(count(lit(1)).as("n_files_after"))
    // Explicit schema on the post-vacuum read: a lake whose every bucket
    // was touched would be an empty dir here, and an empty parquet read
    // without a schema cannot even resolve.
    val baseSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("fb",
        org.apache.spark.sql.types.LongType)))
    val allAfter = s.read.option("basePath", base).schema(baseSchema)
      .parquet(base)
      .select(col("o_orderkey"), col("cents"),
        col("_metadata.file_path").as("path"))
      .unionByName(e1Df)
    val snap = allAfter.join(broadcast(live), Seq("path"), "left_semi")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).cast("long").as("cents"))
    nBefore.crossJoin(nVac).crossJoin(nAfter).crossJoin(snap)
      .orderBy(col("n_files_before"))
  }

  /** CHANGE DATA FEED derived from the file-level diff of a copy-on-write
    * commit — the inverse of rel_cdc_apply (which consumes a given change
    * batch): here the lake only has "files removed at v1" and "files added
    * at v1" in its log, and the feed is RECONSTRUCTED by reading both file
    * sets and full-outer-joining on the key: post-image missing → delete,
    * pre-image missing → insert, values differ → update, equal → a
    * copied-through row (Delta's table_changes hides these; we surface
    * them as the copy-on-write AMPLIFICATION audit — the copied/changed
    * ratio is the number a compaction scheduler actually tunes on). The
    * commit itself is a pruned CoW rewrite (delete key%1344, update
    * cents+7 on key%576, insert shifted keys on key%960 — inserts land in
    * fresh buckets past the base keyspace) into a per-invocation epoch
    * dir; the base lake is read-only and cached. At 100 TB the
    * feed costs exactly the changed-file bytes — the log prunes the scan
    * to removed∪added files; nothing untouched is ever read. Oracle:
    * change rows rebuilt closed-form from the moduli, grouped by type, so
    * absent types are absent on both sides. The lake is the fixed
    * 65536-key maintenance unit ([[vacuum]] precedent): feed cost scales
    * with the commit, never the table. */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.lake("cdf_lake_u64", d) { out =>
      Tables.orders(s, d).filter(col("o_orderkey") < 65536)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(out)
    }
    val run = Scratch.fresh("cdf")
    val e1 = s"$run/epoch=1"
    val logDir = s"$run/log"
    val baseDf = s.read.option("basePath", base).parquet(base)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("fb").cast("long").as("fb"),
        col("_metadata.file_path").as("path"))
    val o = Tables.orders(s, d).filter(col("o_orderkey") < 65536)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        cents(col("o_totalprice")).as("c"))
    val dels = o.filter(col("k") % 1344 === 0)
      .select(col("k"), expr("k div 256").as("fb"))
    val upds = o.filter(col("k") % 1344 =!= 0 && col("k") % 576 === 0)
      .select(col("k"), (col("c") + 7).as("new_cents"),
        expr("k div 256").as("fb"))
    val ins = o.filter(col("k") % 960 === 0)
      .select((col("k") + 16777216L).as("o_orderkey"),
        col("st").as("o_orderstatus"), (col("c") + 3).as("cents"),
        expr("(k + 16777216) div 256").as("fb"))
    val touched = dels.select(col("fb"))
      .unionByName(upds.select(col("fb")))
      .unionByName(ins.select(col("fb"))).distinct()
    val affected = baseDf.join(broadcast(touched), Seq("fb"))
    affected
      .join(dels.select(col("k").as("o_orderkey"), lit(1).as("del")),
        Seq("o_orderkey"), "left").filter(col("del").isNull)
      .join(upds.select(col("k").as("o_orderkey"), col("new_cents")),
        Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("new_cents"), col("cents")).as("cents"), col("fb"))
      .unionByName(ins)
      .transform(df => Sources.writeParts(s, df, col("fb")))
      .write.mode("overwrite").partitionBy("fb").parquet(e1)
    val e1Df = s.read.option("basePath", e1).parquet(e1)
      .select(col("o_orderkey"), col("cents"),
        col("_metadata.file_path").as("path"))
    // The commit: v0 adds the base; v1 removes replaced files, adds the
    // rewritten epoch. The feed below reads ONLY through this log.
    TxnProtocol.commit(logDir, 0, baseDf)
    TxnProtocol.commit(logDir, 1, e1Df, Some(affected))
    val log = TxnProtocol.log(s, logDir)
    val removedAtV1 = log.filter(col("v") === 1 && col("action") === "remove")
      .select(col("path"))
    val addedAtV1 = log.filter(col("v") === 1 && col("action") === "add")
      .select(col("path"))
    val pre = baseDf.join(broadcast(removedAtV1), Seq("path"), "left_semi")
      .select(col("o_orderkey"), col("cents").as("pre_cents"))
    val post = e1Df.join(broadcast(addedAtV1), Seq("path"), "left_semi")
      .select(col("o_orderkey"), col("cents").as("post_cents"))
    pre.join(post, Seq("o_orderkey"), "full_outer")
      .select(
        when(col("post_cents").isNull, "delete")
          .when(col("pre_cents").isNull, "insert")
          .when(col("pre_cents") =!= col("post_cents"), "update")
          .otherwise("copy").as("change_type"),
        col("pre_cents"), col("post_cents"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("pre_cents"), lit(0L))).cast("long").as("pre_cents"),
        sum(coalesce(col("post_cents"), lit(0L))).cast("long").as("post_cents"))
      .orderBy(col("change_type"))
  }

  /** MIN/MAX stats-based FILE SKIPPING — the data-skipping mechanism under
    * every lakehouse query planner: a listing-scale stats table (per real
    * file: min/max of each column, from `_metadata.file_path` group-bys),
    * a candidate set = files whose [min,max] interval intersects the
    * predicate, and a scan that reads ONLY candidates (path semi-join)
    * with the residual predicate re-applied. Two predicates make the
    * point: a band on the CLUSTERED key prunes most files (tight per-file
    * key ranges), the same-width band on unclustered cents scans nearly
    * everything (every file spans the value range) — the measured
    * motivation for [[zorderExec]]. Bounds derive from the data's own
    * max/min quartiles so the demo is scale-free. The audited result rows
    * come THROUGH the pruned scan; the oracle computes them from the raw
    * predicate, so a hash match proves skipping lost no qualifying row. */
  def statsSkipping(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.lake("stats_lake", d) { out =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(out)
    }
    val data = s.read.option("basePath", base).parquet(base)
      .select(col("o_orderkey"), col("cents"),
        col("_metadata.file_path").as("path"))
    val stats = data.groupBy(col("path"))
      .agg(min(col("o_orderkey")).as("kmin"), max(col("o_orderkey")).as("kmax"),
        min(col("cents")).as("cmin"), max(col("cents")).as("cmax"))
    val bounds = broadcast(data
      .agg(max(col("o_orderkey")).as("maxk"),
        min(col("cents")).as("callmin"), max(col("cents")).as("callmax"))
      .select(expr("maxk div 4").as("klo"), expr("maxk div 2").as("khi"),
        expr("callmin + (callmax - callmin) div 4").as("clo"),
        expr("callmin + (callmax - callmin) div 2").as("chi")))
    val nTotal = stats.agg(count(lit(1)).as("n_files_total"))
    def arm(pred: String, candOf: DataFrame => DataFrame,
            residual: Column): DataFrame = {
      val cand = candOf(stats.crossJoin(bounds)).select(col("path"))
      val scanned = cand.agg(count(lit(1)).as("n_files_scanned"))
      val res = data.join(broadcast(cand), Seq("path"), "left_semi")
        .crossJoin(bounds).filter(residual)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).cast("long").as("cents"))
      nTotal.crossJoin(scanned).crossJoin(res)
        .select(lit(pred).as("pred"), col("n_files_total"),
          col("n_files_scanned"), col("n_rows"), col("cents"))
    }
    val keyArm = arm("key",
      st => st.filter(col("kmin") <= col("khi") && col("kmax") >= col("klo")),
      col("o_orderkey") >= col("klo") && col("o_orderkey") <= col("khi"))
    val centsArm = arm("cents",
      st => st.filter(col("cmin") <= col("chi") && col("cmax") >= col("clo")),
      col("cents") >= col("clo") && col("cents") <= col("chi"))
    keyArm.unionByName(centsArm).orderBy(col("pred"))
  }

  /** Z-ORDER EXECUTED — [[Sources.zorderKey]] computes the Morton key;
    * this writes the two physical layouts and MEASURES the pruning claim
    * from their real files. Same rows, two lakes: `linear` files cluster
    * on x alone (f = x div 64); `zorder` files cluster on the interleaved
    * curve (f = z div 65536, the top 4 Morton bits = y9 x9 y8 x8 — every
    * file fixes two bits of x AND two of y, so its min/max box is tight in
    * BOTH dims). Per-file min/max stats come from `_metadata` group-bys
    * exactly as [[statsSkipping]]; the four audit arms scan an x-band and
    * a y-band through each layout. Expected shape (and what the spec
    * asserts): linear prunes the x-band to ≤1 file but scans everything
    * for the y-band; z-order prunes BOTH bands to ≤4 of 16 files — the
    * curve trades a little x-selectivity for y-selectivity, which is the
    * entire reason OPTIMIZE ZORDER exists. Result rows flow through the
    * pruned scans and must match the oracle's raw-predicate recompute at
    * equal values for both layouts — skipping loses nothing either way. */
  def zorderExec(s: SparkSession, d: String): DataFrame = {
    val layouts = Seq(
      "linear" -> "x div 64",
      "zorder" -> "zval div 65536")
    val root = Scratch.lake("zx_lake", d) { out =>
      val src = Tables.orders(s, d)
        .select((col("o_custkey") % 1024).as("x"),
          (floor(col("o_totalprice")).cast("long") % 1024).as("y"),
          cents(col("o_totalprice")).as("cents"))
        .withColumn("zval", morton(col("x"), col("y")))
      layouts.foreach { case (name, fExpr) =>
        src.withColumn("f", expr(fExpr))
          .transform(df => Sources.writeParts(s, df, col("f")))
          .write.mode("overwrite").partitionBy("f").parquet(s"$out/$name")
      }
    }
    layouts.map { case (name, _) =>
      val dir = s"$root/$name"
      val data = s.read.option("basePath", dir).parquet(dir)
        .select(col("x"), col("y"), col("cents"),
          col("_metadata.file_path").as("path"))
      val stats = data.groupBy(col("path"))
        .agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("y")).as("ymin"), max(col("y")).as("ymax"))
      val nTotal = stats.agg(count(lit(1)).as("n_files_total"))
      def arm(pred: String, lo: Long, hi: Long, c: String): DataFrame = {
        val (mn, mx) = (s"${c}min", s"${c}max")
        val cand = stats.filter(col(mn) <= hi && col(mx) >= lo)
          .select(col("path"))
        val scanned = cand.agg(count(lit(1)).as("n_files_scanned"))
        val res = data.join(broadcast(cand), Seq("path"), "left_semi")
          .filter(col(c) >= lo && col(c) <= hi)
          .agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).cast("long").as("cents"))
        nTotal.crossJoin(scanned).crossJoin(res)
          .select(lit(name).as("layout"), lit(pred).as("pred"),
            col("n_files_total"), col("n_files_scanned"),
            col("n_rows"), col("cents"))
      }
      arm("x", 64L, 127L, "x").unionByName(arm("y", 512L, 575L, "y"))
    }.reduce(_ unionByName _).orderBy(col("layout"), col("pred"))
  }

  /** Materialized-view REWRITE exercised end-to-end: build the summary
    * (lang × 256-doc bucket partial states — finer than any query it
    * serves, so serving is always a roll-up merge), install
    * [[graft.plans.MvAggRewrite]] through the public
    * `experimental.extraOptimizations` hook (idempotently — re-invocation
    * replaces the stale instance, so a long-lived Verify/Bench session
    * never accumulates rules pointing at old sf dirs), then run the query
    * AS A USER WOULD WRITE IT — against the base table. The optimizer
    * redirects the scan to the MV; the oracle recomputes from the raw
    * base table, so the hash match proves the rewrite is invisible in the
    * answers, and Round11Spec proves it is visible in the plan (the scan
    * reads the summary, never the corpus). */
  def mvRewrite(s: SparkSession, d: String): DataFrame = {
    val mvPath = Scratch.lake("mv_docs", d) { out =>
      Tables.documents(s, d)
        .groupBy(col("lang"), expr("doc_id div 256").as("db"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .write.mode("overwrite").parquet(out)
    }
    val rule = new graft.plans.MvAggRewrite(s, d, mvPath)
    s.experimental.extraOptimizations = s.experimental.extraOptimizations
      .filterNot(_.isInstanceOf[graft.plans.MvAggRewrite]) :+ rule
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** Write-side CHECK-constraint enforcement with QUARANTINE — the
    * ingestion contract every governed lake enforces (Delta CHECK
    * constraints + the dead-letter pattern): a declarative constraint
    * list (name → predicate) tags each feed row with the names of every
    * constraint it violates, and ONE partitioned write splits the feed
    * into the lake (`zone=valid`) and the quarantine (`zone=quarantine`,
    * violation names kept per row for triage) — a single pass, no second
    * scan, no dropped rows. Violations are INJECTED deterministically
    * (every 431st key nulls the status, every 593rd negates the amount —
    * co-prime, so key 0 violates both and multi-violation tagging is
    * exercised); the audit re-reads the REAL files per zone and reports
    * per-constraint counts plus the surviving lake total. The oracle
    * rebuilds all of it closed-form from the injection moduli, so the
    * hash proves quarantine counted every bad row (a row in both
    * quarantine groups is counted in each) and the lake kept exactly the
    * clean ones. */
  def checkConstraints(s: SparkSession, d: String): DataFrame = {
    val dir = s"${Scratch.fresh("checks")}/lake"
    val c = cents(col("o_totalprice"))
    val feed = Tables.orders(s, d).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 431 === 0, lit(null).cast("string"))
        .otherwise(col("o_orderstatus")).as("st"),
      when(col("o_orderkey") % 593 === 0, -c).otherwise(c).as("cents"))
    val checks: Seq[(String, Column)] = Seq(
      "status_not_null" -> col("st").isNotNull,
      "positive_amount" -> (col("cents") > 0))
    feed
      .withColumn("violations", array_compact(array(checks.map {
        case (n, p) => when(!p, lit(n)).otherwise(lit(null).cast("string"))
      }: _*)))
      .withColumn("zone", when(size(col("violations")) === 0, "valid")
        .otherwise("quarantine"))
      .transform(df => Sources.writeParts(s, df, col("zone")))
      .write.mode("overwrite").partitionBy("zone").parquet(dir)
    val back = s.read.option("basePath", dir).parquet(dir)
    val valid = back.filter(col("zone") === "valid")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("long").as("cents"))
      .select(lit("valid").as("category"), col("n_rows"), col("cents"))
    val quarantined = back.filter(col("zone") === "quarantine")
      .select(explode(col("violations")).as("violated"), col("cents"))
      .groupBy(col("violated"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("long").as("cents"))
      .select(concat(lit("quarantine:"), col("violated")).as("category"),
        col("n_rows"), col("cents"))
    valid.unionByName(quarantined).orderBy(col("category"))
  }

  /** DELETION VECTORS — merge-on-read deletes, the modern complement to
    * the copy-on-write path ([[Lakehouse.changeFeed]] / mergeExec rewrite
    * whole files to drop rows; a DV commit rewrites NOTHING): the delete
    * predicate is evaluated once, and the matching rows' physical
    * coordinates (file path, `_metadata.row_index` — the row's ordinal
    * inside its parquet file, the exact coordinate Delta DVs store) land
    * in a sidecar. Readers apply the vector as a broadcast anti-join on
    * (path, position) — deleted-rows scale, never data scale — so a
    * delete costs O(deleted) instead of O(rewritten files), and the audit
    * proves `n_files_rewritten = 0` while the row/cents totals match the
    * post-delete table exactly. Positions are file-relative, so the
    * sidecar is self-consistent with the immutable base files regardless
    * of row order inside them (the oracle never needs positions — it
    * recomputes the surviving rows from the predicate). The DV ratio per
    * file (n_files_with_dv vs total) is what a maintenance scheduler
    * watches to decide when merge-on-read debt should be compacted into
    * a [[Sources.mergeExec]]-style rewrite. */
  def deletionVectors(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.lake("dv_lake", d) { out =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(out)
    }
    val run = Scratch.fresh("dv")
    val baseDf = s.read.option("basePath", base).parquet(base)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("_metadata.file_path").as("path"),
        col("_metadata.row_index").as("pos"))
    baseDf.filter(col("o_orderkey") % 544 === 0)
      .select(col("path"), col("pos"))
      .write.mode("overwrite").parquet(s"$run/dv")
    val dv = s.read.parquet(s"$run/dv")
    val live = baseDf.join(broadcast(dv), Seq("path", "pos"), "left_anti")
    val dvStats = dv.agg(count(lit(1)).as("n_deleted"),
      countDistinct(col("path")).as("n_files_with_dv"))
    live.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).cast("long").as("cents"))
      .crossJoin(broadcast(dvStats))
      .withColumn("n_files_rewritten", lit(0L))
      .orderBy(col("o_orderstatus"))
  }

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the missing half of
    * [[mvRewrite]] (which *serves* from a summary): when the base table
    * takes a CoW commit, the MV is refreshed from the CHANGE FEED ALONE —
    * pre-image rows (the files the commit removed) contribute NEGATIVE
    * partials, post-image rows (the files it added) positive ones, and the
    * merge touches only |MV| partial states. The base table is never
    * rescanned: refresh cost = changed-file bytes + |MV|, the
    * delta-maintenance contract (self-maintainable views, Gupta & Mumick's
    * classic incremental view maintenance). Copied-through rows appear in
    * both images and cancel exactly — CoW amplification is invisible to the
    * MV by algebra, not by filtering. The lake is bounded to a 65536-key
    * maintenance unit like [[vacuum]] (the per-partition granularity a real
    * refresh runs at). Oracle: serves the refreshed MV's answers, recomputed
    * closed-form from the post-change table — a hash match proves
    * delta-merge ≡ full recompute. */
  def mvIncremental(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.lake("mvi_lake", d) { out =>
      Tables.orders(s, d).filter(col("o_orderkey") < 65536)
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(out)
    }
    val baseDf = s.read.option("basePath", base).parquet(base)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("fb").cast("long").as("fb"),
        col("_metadata.file_path").as("path"))
    val mv0Path = Scratch.lake("mvi_mv", d) { out =>
      baseDf.groupBy(col("o_orderstatus"), col("fb"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"))
        .write.mode("overwrite").parquet(out)
    }
    val run = Scratch.fresh("mvi")
    val e1 = s"$run/epoch=1"
    val o = Tables.orders(s, d).filter(col("o_orderkey") < 65536)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        cents(col("o_totalprice")).as("c"))
    val dels = o.filter(col("k") % 1216 === 0)
      .select(col("k"), expr("k div 256").as("fb"))
    val upds = o.filter(col("k") % 1216 =!= 0 && col("k") % 704 === 0)
      .select(col("k"), expr("k div 256").as("fb"))
    val ins = o.filter(col("k") % 896 === 0)
      .select((col("k") + 1048576L).as("o_orderkey"), col("st").as("o_orderstatus"),
        (col("c") + 5).as("cents"), expr("(k + 1048576) div 256").as("fb"))
    val touched = dels.select(col("fb")).unionByName(upds.select(col("fb")))
      .unionByName(ins.select(col("fb"))).distinct()
    val affected = baseDf.join(broadcast(touched), Seq("fb"))
    affected
      .filter(col("o_orderkey") % 1216 =!= 0)
      .withColumn("cents", when(col("o_orderkey") % 704 === 0,
        col("cents") + 11).otherwise(col("cents")))
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"), col("fb"))
      .unionByName(ins)
      .transform(df => Sources.writeParts(s, df, col("fb")))
      .write.mode("overwrite").partitionBy("fb").parquet(e1)
    val e1Df = s.read.option("basePath", e1).parquet(e1)
      .select(col("o_orderstatus"), col("cents"),
        col("fb").cast("long").as("fb"))
    // The delta: negative partials from the REMOVED files' rows, positive
    // from the ADDED files' rows. Nothing outside the changed files is read.
    val delta = affected
      .select(col("o_orderstatus"), col("fb"),
        lit(-1L).as("cnt"), (-col("cents")).as("sum_cents"))
      .unionByName(e1Df
        .select(col("o_orderstatus"), col("fb"),
          lit(1L).as("cnt"), col("cents").as("sum_cents")))
    val mv1 = s.read.parquet(mv0Path)
      .select(col("o_orderstatus"), col("fb"), col("cnt"), col("sum_cents"))
      .unionByName(delta)
      .groupBy(col("o_orderstatus"), col("fb"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_cents")).as("sum_cents"))
      .filter(col("cnt") > 0)
    val groups = mv1.agg(count(lit(1)).as("n_mv_groups"))
    mv1.groupBy(col("o_orderstatus"))
      .agg(sum(col("cnt")).cast("long").as("n_rows"),
        sum(col("sum_cents")).cast("long").as("cents"))
      .crossJoin(broadcast(groups))
      .orderBy(col("o_orderstatus"))
  }

  /** METADATA TABLES — the Iceberg `history`/`snapshots` surface as a
    * query: a three-commit lake (v0 base ingest, v1 copy-on-write delete
    * that packs touched bucket pairs, v2 pure compaction that coalesces the
    * packs 4:1 without touching a row), reported per version as adds,
    * removes, live file count, and the snapshot's visible rows/cents
    * through log replay. Everything is file-level joins over the
    * listing-scale log — the data files are scanned ONCE (a single union
    * read joined against the per-version live set), never per version. The
    * lake and its log are read-only cached lakes (the log IS the state),
    * so re-invocations are log-replay-cheap. Oracle: the whole triangle is
    * closed-form bucket algebra from the delete modulus. */
  def history(s: SparkSession, d: String): DataFrame = {
    val touched = Tables.orders(s, d)
      .filter(col("o_orderkey") < 32768 && col("o_orderkey") % 576 === 0)
      .select(expr("o_orderkey div 256").as("fb")).distinct()
    def files(dir: String): DataFrame = s.read.option("basePath", dir).parquet(dir)
      .withColumn("path", col("_metadata.file_path"))
    def baseFiles(base: String): DataFrame =
      files(base).withColumn("fb", col("fb").cast("long"))
    val root = Scratch.lake("hist_lake", d) { out =>
      Tables.orders(s, d).filter(col("o_orderkey") < 32768)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(s"$out/base")
      baseFiles(s"$out/base").join(broadcast(touched), Seq("fb"))
        .filter(col("o_orderkey") % 576 =!= 0)
        .select(col("o_orderkey"), col("cents"), expr("fb div 2").as("gb"))
        .transform(df => Sources.writeParts(s, df, col("gb")))
        .write.mode("overwrite").partitionBy("gb").parquet(s"$out/e1")
      files(s"$out/e1")
        .select(col("o_orderkey"), col("cents"), expr("gb div 4").as("sb"))
        .transform(df => Sources.writeParts(s, df, col("sb")))
        .write.mode("overwrite").partitionBy("sb").parquet(s"$out/e2")
    }
    val base = s"$root/base"; val e1 = s"$root/e1"; val e2 = s"$root/e2"
    // The log records absolute file paths, so it is a second lake built
    // over the PUBLISHED data dirs (paths inside a temp dir die with the
    // rename that publishes it).
    val logDir = Scratch.lake("hist_log", d) { out =>
      val baseDf = baseFiles(base)
      TxnProtocol.commit(out, 0, baseDf)
      TxnProtocol.commit(out, 1, files(e1),
        Some(baseDf.join(broadcast(touched), Seq("fb"))))
      TxnProtocol.commit(out, 2, files(e2), Some(files(e1)))
    }
    val log = TxnProtocol.log(s, logDir)
    val versions = log.select(col("v").as("ver")).distinct()
    // File liveness per version: the log is listing-scale, so the tiny
    // triangle join (log rows visible at each version) broadcasts.
    val visible = log.join(broadcast(versions), col("v") <= col("ver"))
    val liveSet = visible.groupBy(col("ver"), col("path"))
      .agg(max(when(col("action") === "add", 1).otherwise(0)).as("added"),
        max(when(col("action") === "remove", 1).otherwise(0)).as("removed"))
      .filter(col("added") === 1 && col("removed") === 0)
      .select(col("ver"), col("path"))
    val commits = log.groupBy(col("v").as("ver"))
      .agg(sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_adds"),
        sum(when(col("action") === "remove", 1L).otherwise(0L)).as("n_removes"))
    val nLive = liveSet.groupBy(col("ver")).agg(count(lit(1)).as("n_live_files"))
    // ONE scan of all data files ever written, fanned out to the versions
    // each file is live in (≤ |versions| small multiplier).
    val allData = Seq(base, e1, e2)
      .map(files(_).select(col("o_orderkey"), col("cents"), col("path")))
      .reduce(_ unionByName _)
    val snap = allData.join(broadcast(liveSet), Seq("path"))
      .groupBy(col("ver"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).cast("long").as("cents"))
    // Per-version aggregates are |versions|-scale — broadcast them so the
    // final stitch never shuffles.
    commits.join(broadcast(nLive), Seq("ver")).join(broadcast(snap), Seq("ver"))
      .orderBy(col("ver"))
  }

  /** PARTITION SPEC EVOLUTION — Iceberg's headline metadata feature: the
    * table's early files were written under spec0 (bucketed by key range),
    * later ingests under spec1 (partitioned by status); both coexist and a
    * query prunes EACH spec with the mechanism it supports. The audit runs
    * one predicate (status = 'F' AND a key band) through both populations:
    * spec0 prunes by per-file key min/max stats but must scan every status
    * (the key-clustered layout knows nothing of status); spec1 prunes to
    * the single matching status directory but its one file spans the whole
    * key range (residual re-applied). No rewrite happens at spec change —
    * old files are never migrated, exactly Iceberg's contract. Oracle:
    * file counts from the same min/max interval algebra as
    * [[statsSkipping]], result rows from the raw predicate per population. */
  def partitionEvolution(s: SparkSession, d: String): DataFrame = {
    // Scale-free spec boundary (half the keyspace) and key band — derived
    // from the data, moved through broadcasts, never collected.
    val bounds = broadcast(Tables.orders(s, d)
      .agg(expr("max(o_orderkey) div 2").as("bb"))
      .select(col("bb"), expr("bb div 2").as("lo"),
        (col("bb") + expr("bb div 2")).as("hi")))
    val root = Scratch.lake("pevo_lake", d) { out =>
      Tables.orders(s, d).crossJoin(bounds)
        .filter(col("o_orderkey") <= col("bb"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(s"$out/spec0")
      Tables.orders(s, d).crossJoin(bounds)
        .filter(col("o_orderkey") > col("bb"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("cents"))
        .withColumn("st", col("o_orderstatus"))
        .transform(df => Sources.writeParts(s, df, col("st")))
        .write.mode("overwrite").partitionBy("st").parquet(s"$out/spec1")
    }
    val spec0 = s"$root/spec0"; val spec1 = s"$root/spec1"
    val d0 = s.read.option("basePath", spec0).parquet(spec0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("_metadata.file_path").as("path"))
    val d1 = s.read.option("basePath", spec1).parquet(spec1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("st"), col("_metadata.file_path").as("path"))
    val stats0 = d0.groupBy(col("path"))
      .agg(min(col("o_orderkey")).as("kmin"), max(col("o_orderkey")).as("kmax"))
    val cand0 = stats0.crossJoin(bounds)
      .filter(col("kmin") <= col("hi") && col("kmax") >= col("lo"))
      .select(col("path"))
    val arm0 = stats0.agg(count(lit(1)).as("n_files_total"))
      .crossJoin(cand0.agg(count(lit(1)).as("n_files_scanned")))
      .crossJoin(d0.join(broadcast(cand0), Seq("path"), "left_semi")
        .crossJoin(bounds)
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderkey").between(col("lo"), col("hi")))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).cast("long").as("cents")))
      .select(lit("spec0_bucketed").as("spec"), col("n_files_total"),
        col("n_files_scanned"), col("n_rows"), col("cents"))
    val files1 = d1.select(col("path"), col("st")).distinct()
    val cand1 = files1.filter(col("st") === "F").select(col("path"))
    val arm1 = files1.agg(count(lit(1)).as("n_files_total"))
      .crossJoin(cand1.agg(count(lit(1)).as("n_files_scanned")))
      .crossJoin(d1.join(broadcast(cand1), Seq("path"), "left_semi")
        .crossJoin(bounds)
        .filter(col("o_orderstatus") === "F" &&
          col("o_orderkey").between(col("lo"), col("hi")))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("cents")), lit(0L)).cast("long").as("cents")))
      .select(lit("spec1_status").as("spec"), col("n_files_total"),
        col("n_files_scanned"), col("n_rows"), col("cents"))
    arm0.unionByName(arm1).orderBy(col("spec"))
  }

  /** The three Bloom hash positions (m = 1024 bits, k = 3) — multiplicative
    * hashes in exact BIGINT, identical on both engines. */
  private def bloomBits(ck: Column): Column = array(
    (ck * 2654435761L) % 1024, (ck * 40503L + 2057L) % 1024,
    (ck * 69621L + 101L) % 1024)

  /** BLOOM-FILTER FILE SKIPPING — the pruning class min/max stats CANNOT
    * serve: a point lookup on a column UNCLUSTERED in the file layout
    * (o_custkey in key-bucketed files spans the whole domain in every
    * file, so [[statsSkipping]]'s interval algebra prunes nothing). A
    * per-file Bloom index (m=1024, k=3; in Delta/Parquet these bits live
    * in the footer/sidecar) admits only files whose bitset contains ALL k
    * probe positions. Two probes run: a key known present (no false
    * negatives — every matching row is found) and a key known absent
    * (only Bloom false positives are scanned, and finding nothing). The
    * index build is one linear distinct over (file, bit); probes move as
    * broadcasts; the verifying scan touches candidate files only. Oracle:
    * file ≡ the fb write bucket, so DuckDB rebuilds the same bitsets
    * relationally — the hash proves both the pruning set and the scan. */
  def bloomSkipping(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.lake("bloom_lake", d) { out =>
      Tables.orders(s, d).filter(col("o_orderkey") < 65536)
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("cents"),
          expr("o_orderkey div 256").as("fb"))
        .transform(df => Sources.writeParts(s, df, col("fb")))
        .write.mode("overwrite").partitionBy("fb").parquet(out)
    }
    val baseDf = s.read.option("basePath", base).parquet(base)
      .select(col("o_custkey").as("ck"), col("cents"),
        col("_metadata.file_path").as("path"))
    // Per-file Bloom bitsets: distinct (file, bit) — the sidecar index.
    val bits = baseDf
      .select(col("path"), explode(bloomBits(col("ck"))).as("b")).distinct()
    val probes = baseDf.agg(max(col("ck")).as("mk"))
      .select(explode(array(
        struct(lit("hit").as("probe"), col("mk").as("key")),
        struct(lit("miss").as("probe"), (col("mk") + 7777L).as("key")))).as("p"))
      .select(col("p.probe"), col("p.key"))
    val probeBits = probes
      .select(col("probe"), col("key"), explode(bloomBits(col("key"))).as("b"))
      .distinct()
    val probeNb = probeBits.groupBy(col("probe"))
      .agg(count(lit(1)).as("nb"))
    // Candidate files per probe: every probe bit present in the file set.
    val cand = bits.join(broadcast(probeBits), Seq("b"))
      .groupBy(col("probe"), col("key"), col("path"))
      .agg(countDistinct(col("b")).as("hits"))
      .join(broadcast(probeNb), Seq("probe"))
      .filter(col("hits") === col("nb"))
      .select(col("probe"), col("key"), col("path"))
    val nFiles = bits.select(col("path")).distinct()
      .agg(count(lit(1)).as("n_files_total"))
    val scanned = baseDf.join(broadcast(cand), Seq("path"))
      .groupBy(col("probe"))
      .agg(count(lit(1)).as("n_rows_scanned"),
        sum(when(col("ck") === col("key"), 1L).otherwise(0L)).as("n_rows_found"),
        sum(when(col("ck") === col("key"), col("cents")).otherwise(0L))
          .cast("long").as("cents"))
    val nCand = cand.groupBy(col("probe")).agg(count(lit(1)).as("n_candidates"))
    probes.select(col("probe"))
      .join(broadcast(nCand), Seq("probe"), "left")
      .join(broadcast(scanned.drop("n_rows_scanned")), Seq("probe"), "left")
      .crossJoin(broadcast(nFiles))
      .select(col("probe"), col("n_files_total"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_rows_found"), lit(0L)).as("n_rows_found"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .orderBy(col("probe"))
  }

  override def catalog: Seq[Query] = Seq(
    // file ≡ the fb write bucket, so the per-file Bloom bitsets, the
    // candidate sets, and the verifying scans all rebuild relationally.
    Query("layout_bloom_skipping", bloomSkipping, Some(
      """WITH o AS (SELECT o_orderkey AS k, o_custkey AS ck,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey < 65536),
        |f AS (SELECT k // 256 AS fb, ck, c FROM o),
        |bits AS (
        |  SELECT DISTINCT fb, (ck * 2654435761) % 1024 AS b FROM f
        |  UNION SELECT fb, (ck * 40503 + 2057) % 1024 FROM f
        |  UNION SELECT fb, (ck * 69621 + 101) % 1024 FROM f),
        |pr AS (SELECT 'hit' AS probe, MAX(ck) AS pkey FROM f
        |  UNION ALL SELECT 'miss', MAX(ck) + 7777 FROM f),
        |pb AS (
        |  SELECT DISTINCT probe, pkey, (pkey * 2654435761) % 1024 AS b FROM pr
        |  UNION SELECT probe, pkey, (pkey * 40503 + 2057) % 1024 FROM pr
        |  UNION SELECT probe, pkey, (pkey * 69621 + 101) % 1024 FROM pr),
        |pn AS (SELECT probe, COUNT(DISTINCT b) AS nb FROM pb GROUP BY probe),
        |cand AS (
        |  SELECT pb.probe, pb.pkey, bits.fb
        |  FROM pb JOIN bits ON pb.b = bits.b
        |    JOIN pn ON pn.probe = pb.probe
        |  GROUP BY pb.probe, pb.pkey, bits.fb, pn.nb
        |  HAVING COUNT(DISTINCT pb.b) = pn.nb),
        |tot AS (SELECT CAST(COUNT(DISTINCT fb) AS BIGINT) AS n_files_total
        |  FROM f),
        |nc AS (SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_candidates
        |  FROM cand GROUP BY probe),
        |sc AS (SELECT cand.probe,
        |    CAST(SUM(CASE WHEN f.ck = cand.pkey THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rows_found,
        |    CAST(SUM(CASE WHEN f.ck = cand.pkey THEN f.c ELSE 0 END) AS BIGINT)
        |      AS cents
        |  FROM cand JOIN f ON f.fb = cand.fb GROUP BY cand.probe)
        |SELECT pr.probe, tot.n_files_total,
        |  CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
        |  CAST(COALESCE(sc.n_rows_found, 0) AS BIGINT) AS n_rows_found,
        |  CAST(COALESCE(sc.cents, 0) AS BIGINT) AS cents
        |FROM pr CROSS JOIN tot
        |LEFT JOIN nc ON nc.probe = pr.probe
        |LEFT JOIN sc ON sc.probe = pr.probe
        |ORDER BY pr.probe""".stripMargin)),
    // Full recompute from the post-change table — a hash match proves the
    // delta-merge refresh (negative pre-image + positive post-image
    // partials) lands on exactly the state a rebuild would.
    Query("layout_mv_incremental", mvIncremental, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey < 65536),
        |post AS (
        |  SELECT st, k // 256 AS fb,
        |    CASE WHEN k % 704 = 0 THEN c + 11 ELSE c END AS c
        |  FROM o WHERE k % 1216 <> 0
        |  UNION ALL
        |  SELECT st, (k + 1048576) // 256, c + 5 FROM o WHERE k % 896 = 0),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mv_groups
        |  FROM (SELECT DISTINCT st, fb FROM post) dg)
        |SELECT st AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) AS BIGINT) AS cents, n_mv_groups
        |FROM post, g GROUP BY st, n_mv_groups
        |ORDER BY o_orderstatus""".stripMargin)),
    // The three-commit triangle closed-form from the delete modulus:
    // v0 = bucket ingest, v1 = CoW delete packing touched pairs,
    // v2 = 4:1 compaction of the packs (rows unchanged).
    Query("layout_history", history, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey < 32768),
        |b AS (SELECT CAST(COUNT(DISTINCT k // 256) AS BIGINT) AS buckets FROM o),
        |t AS (SELECT DISTINCT k // 256 AS fb FROM o WHERE k % 576 = 0),
        |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS touched,
        |  CAST(COUNT(DISTINCT fb // 2) AS BIGINT) AS packs,
        |  CAST(COUNT(DISTINCT fb // 8) AS BIGINT) AS superpacks FROM t),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |  CAST(SUM(c) AS BIGINT) AS c0 FROM o),
        |sur AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1,
        |  CAST(SUM(c) AS BIGINT) AS c1 FROM o WHERE k % 576 <> 0)
        |SELECT 0 AS ver, buckets AS n_adds, CAST(0 AS BIGINT) AS n_removes,
        |  buckets AS n_live_files, n0 AS n_rows, c0 AS cents FROM b, tot
        |UNION ALL
        |SELECT 1, packs, touched, buckets - touched + packs, n1, c1
        |FROM b, tc, sur
        |UNION ALL
        |SELECT 2, superpacks, packs, buckets - touched + superpacks, n1, c1
        |FROM b, tc, sur
        |ORDER BY ver""".stripMargin)),
    // Per-population file counts from the same min/max interval algebra as
    // layout_stats_skipping; result rows from the raw predicate per spec.
    Query("layout_partition_evolution", partitionEvolution, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |b AS (SELECT MAX(k) // 2 AS bb, (MAX(k) // 2) // 2 AS lo,
        |  (MAX(k) // 2) + (MAX(k) // 2) // 2 AS hi FROM o),
        |f0 AS (SELECT k // 256 AS fb, MIN(k) AS kmin, MAX(k) AS kmax
        |  FROM o, b WHERE k <= bb GROUP BY fb),
        |s1 AS (SELECT DISTINCT st FROM o, b WHERE k > bb)
        |SELECT 'spec0_bucketed' AS spec,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM f0) AS n_files_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM f0, b
        |     WHERE kmin <= hi AND kmax >= lo) AS n_files_scanned,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o, b WHERE k <= bb
        |     AND st = 'F' AND k BETWEEN lo AND hi) AS n_rows,
        |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM o, b WHERE k <= bb
        |     AND st = 'F' AND k BETWEEN lo AND hi) AS cents
        |UNION ALL
        |SELECT 'spec1_status',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1 WHERE st = 'F'),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o, b WHERE k > bb
        |     AND st = 'F' AND k BETWEEN lo AND hi),
        |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM o, b WHERE k > bb
        |     AND st = 'F' AND k BETWEEN lo AND hi)
        |ORDER BY spec""".stripMargin)),
    // Surviving rows from the predicate alone (positions are physical
    // coordinates the oracle never needs); rewritten files are zero by
    // construction of merge-on-read.
    Query("layout_deletion_vectors", deletionVectors, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |dv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_deleted,
        |  CAST(COUNT(DISTINCT k // 256) AS BIGINT) AS n_files_with_dv
        |  FROM o WHERE k % 544 = 0)
        |SELECT st AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) AS BIGINT) AS cents, n_deleted, n_files_with_dv,
        |  CAST(0 AS BIGINT) AS n_files_rewritten
        |FROM o, dv WHERE k % 544 <> 0
        |GROUP BY st, n_deleted, n_files_with_dv ORDER BY o_orderstatus""".stripMargin)),
    // Quarantine groups and the surviving lake rebuilt closed-form from
    // the injection moduli (key 0 violates BOTH constraints and must be
    // counted in each group).
    Query("layout_check_constraints", checkConstraints, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 593 = 0
        |      THEN -CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |      ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |    END AS c
        |  FROM orders)
        |SELECT 'quarantine:positive_amount' AS category,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) AS BIGINT) AS cents
        |FROM o WHERE k % 593 = 0
        |UNION ALL
        |SELECT 'quarantine:status_not_null',
        |  CAST(COUNT(*) AS BIGINT), CAST(SUM(c) AS BIGINT)
        |FROM o WHERE k % 431 = 0
        |UNION ALL
        |SELECT 'valid', CAST(COUNT(*) AS BIGINT), CAST(SUM(c) AS BIGINT)
        |FROM o WHERE k % 431 <> 0 AND k % 593 <> 0
        |ORDER BY category""".stripMargin)),
    // The raw base-table aggregate: a hash match proves the MV-redirected
    // plan answers exactly like the corpus scan it replaced.
    Query("layout_mv_rewrite", mvRewrite, Some(
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    // Closed-form bucket/pack/modulus algebra: before = base buckets +
    // pair-packs, vacuumed = touched buckets, after = before - vacuumed;
    // the surviving snapshot is the post-delete table.
    Query("layout_vacuum", vacuum, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey < 32768),
        |t AS (SELECT DISTINCT k // 256 AS fb FROM o WHERE k % 640 = 0),
        |m AS (SELECT CAST(COUNT(DISTINCT k // 256) AS BIGINT) AS buckets
        |  FROM o),
        |p AS (SELECT CAST(COUNT(DISTINCT fb // 2) AS BIGINT) AS packs,
        |  CAST(COUNT(*) AS BIGINT) AS touched FROM t),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) AS BIGINT) AS cents FROM o WHERE k % 640 <> 0)
        |SELECT buckets + packs AS n_files_before, touched AS n_vacuumed,
        |  buckets - touched + packs AS n_files_after, n_rows, cents
        |FROM m, p, v ORDER BY n_files_before""".stripMargin)),
    // The feed rebuilt closed-form from the change rules; the 'copy' rows
    // are the CoW amplification (rows rewritten only because they share a
    // file with a change). Types absent in the data are absent here too.
    Query("layout_cdf", changeFeed, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey < 65536),
        |tch AS (SELECT DISTINCT fb FROM (
        |  SELECT k // 256 AS fb FROM o WHERE k % 1344 = 0 OR k % 576 = 0
        |  UNION ALL
        |  SELECT (k + 16777216) // 256 FROM o WHERE k % 960 = 0) t),
        |feed AS (
        |  SELECT 'delete' AS ct, c AS pre, CAST(NULL AS BIGINT) AS post
        |  FROM o WHERE k % 1344 = 0
        |  UNION ALL
        |  SELECT 'update', c, c + 7 FROM o
        |  WHERE k % 1344 <> 0 AND k % 576 = 0
        |  UNION ALL
        |  SELECT 'insert', CAST(NULL AS BIGINT), c + 3 FROM o
        |  WHERE k % 960 = 0
        |  UNION ALL
        |  SELECT 'copy', c, c FROM o
        |  WHERE k // 256 IN (SELECT fb FROM tch)
        |    AND k % 1344 <> 0 AND k % 576 <> 0)
        |SELECT ct AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(COALESCE(pre, 0)) AS BIGINT) AS pre_cents,
        |  CAST(SUM(COALESCE(post, 0)) AS BIGINT) AS post_cents
        |FROM feed GROUP BY ct ORDER BY change_type""".stripMargin)),
    // Candidate files = bucket groups whose min/max interval intersects
    // the band; result rows from the raw predicate — equality proves the
    // pruned scan is lossless.
    Query("layout_stats_skipping", statsSkipping, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c,
        |    o_orderkey // 256 AS fb
        |  FROM orders),
        |b AS (SELECT MAX(k) // 4 AS klo, MAX(k) // 2 AS khi,
        |  MIN(c) + (MAX(c) - MIN(c)) // 4 AS clo,
        |  MIN(c) + (MAX(c) - MIN(c)) // 2 AS chi FROM o),
        |f AS (SELECT fb, MIN(k) AS kmin, MAX(k) AS kmax,
        |  MIN(c) AS cmin, MAX(c) AS cmax FROM o GROUP BY fb),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nf FROM f)
        |SELECT 'cents' AS pred, nf AS n_files_total,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM f, b
        |     WHERE cmin <= chi AND cmax >= clo) AS n_files_scanned,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o, b
        |     WHERE c BETWEEN clo AND chi) AS n_rows,
        |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM o, b
        |     WHERE c BETWEEN clo AND chi) AS cents
        |FROM tot
        |UNION ALL
        |SELECT 'key', nf,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM f, b
        |     WHERE kmin <= khi AND kmax >= klo),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o, b
        |     WHERE k BETWEEN klo AND khi),
        |  (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM o, b
        |     WHERE k BETWEEN klo AND khi)
        |FROM tot ORDER BY pred""".stripMargin)),
    // Per-layout file groups with min/max boxes; scanned = boxes
    // intersecting the band; results from the raw band predicate (equal
    // for both layouts — layout changes cost, never answers).
    Query("layout_zorder_exec", zorderExec, Some(
      s"""WITH t AS (
         |  SELECT o_custkey % 1024 AS x,
         |    CAST(floor(o_totalprice) AS BIGINT) % 1024 AS y,
         |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
         |  FROM orders),
         |z AS (SELECT x, y, c, $sqlZ AS zval FROM t),
         |lin AS (SELECT x // 64 AS f, MIN(x) AS xmin, MAX(x) AS xmax,
         |  MIN(y) AS ymin, MAX(y) AS ymax FROM z GROUP BY 1),
         |zb AS (SELECT zval // 65536 AS f, MIN(x) AS xmin, MAX(x) AS xmax,
         |  MIN(y) AS ymin, MAX(y) AS ymax FROM z GROUP BY 1),
         |rx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS cents FROM z
         |  WHERE x BETWEEN 64 AND 127),
         |ry AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS cents FROM z
         |  WHERE y BETWEEN 512 AND 575)
         |SELECT 'linear' AS layout, 'x' AS pred,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lin) AS n_files_total,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lin
         |     WHERE xmin <= 127 AND xmax >= 64) AS n_files_scanned,
         |  n_rows, cents FROM rx
         |UNION ALL
         |SELECT 'linear', 'y',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lin),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lin
         |     WHERE ymin <= 575 AND ymax >= 512),
         |  n_rows, cents FROM ry
         |UNION ALL
         |SELECT 'zorder', 'x',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM zb),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM zb
         |     WHERE xmin <= 127 AND xmax >= 64),
         |  n_rows, cents FROM rx
         |UNION ALL
         |SELECT 'zorder', 'y',
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM zb),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM zb
         |     WHERE ymin <= 575 AND ymax >= 512),
         |  n_rows, cents FROM ry
         |ORDER BY layout, pred""".stripMargin)),
  )
}
