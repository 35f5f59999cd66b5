package graft.ops

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators for training-data pipelines: deterministic
  * train/val/test splitting, repetition-based quality signals (the
  * Gopher-style filters), benchmark decontamination, and fixed-token-budget
  * sequence packing.
  *
  * Scale posture: split and packing are map-only plus one small groupBy;
  * repetition is explode → two partial-agg shuffles keyed by doc_id;
  * decontamination explodes shingles linearly and broadcasts the (small)
  * benchmark shingle set — nothing here is quadratic in corpus size.
  */
object Corpus extends QueryModule {

  private[graft] def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Portable 32-bit hash shared with the DuckDB oracle: first 8 hex digits
    * of md5 as a long (same construction as LlmDedup.md5hash32). */
  private[graft] def md5bucket(c: Column, mod: Int): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % mod

  /** Deterministic hash split: every doc lands in train/val/test purely as a
    * function of its id (80/10/10 by md5 bucket), so the split is stable
    * across runs, re-shards, and cluster sizes — no sampling state, no RNG.
    * Map-only projection + one tiny groupBy; at 100 TB the split column is
    * computed in the scan's project and the aggregate is |splits|×|langs|
    * rows. */
  /** Weighted sampling without replacement (k = 50, weight = n_chars) via
    * A-Res (Efraimidis–Spirakis): each doc draws key = u^(1/w) and the
    * top-k keys win — one map pass + a distributed TakeOrdered merge, the
    * only scalable way to weight-sample 100 TB (no global RNG state, no
    * rejection loop, restart-stable because u is the md5 convention, not
    * an RNG). We rank by the monotone-equivalent ln(u)/w, floor-frozen to
    * nano-units so the comparison is exact-integer cross-engine (a 1-ulp
    * ln wobble flips a floor with probability ~10⁻⁹ per row). */
  def weightedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("n_chars") > 0)
      .withColumn("u",
        (md5bucket(concat(lit("ws:"), col("doc_id").cast("string")), 1000000)
          .cast("double") + 0.5) / 1000000.0)
      .withColumn("key_nano",
        floor(lit(1.0e9) * log(col("u")) / col("n_chars").cast("double"))
          .cast("long"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("key_nano"))
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(50)

  def hashSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = md5bucket(concat(lit("split:"), col("doc_id").cast("string")), 100)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"), col("lang"))
  }

  /** Repetition signals per document (the Gopher/MassiveText repetition
    * filters): most-frequent-word fraction, distinct-token ratio, and
    * most-frequent-bigram fraction. High values mark boilerplate/spam.
    * Two explode→groupBy passes keyed by doc_id (partial aggregation keeps
    * shuffle volume at |doc × distinct-term|), then a doc_id-aligned join —
    * both sides share the same partitioning, so the join adds no exchange. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), t.as("toks"))
      .withColumn("bigrams",
        zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)))

    val uni = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_word_n"))

    val big = base
      .select(col("doc_id"), explode(col("bigrams")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))

    uni.join(big, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_word_n"),
        (col("top_word_n").cast("double") / col("n_tokens")).as("top_word_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        (coalesce(col("top_bigram_n"), lit(0L)).cast("double")
          / greatest(col("n_tokens") - 1, lit(1L))).as("top_bigram_frac"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("distinct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: find corpus documents sharing any 8-token
    * shingle with a held-out benchmark set (here: doc_id ≡ 0 mod 53 stands
    * in for the eval set). Corpus shingles are a linear explode; the
    * benchmark's distinct shingle set is small by construction, so it
    * broadcasts — the contaminated-doc check is a broadcast hash join at any
    * corpus size, never a shuffle of the corpus side. */
  /** (doc_id, sh): all 8-token shingles of docs with ≥ 8 tokens. */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 7),
          i => array_join(slice(col("toks"), i, lit(8)), " "))).as("sh"))

  /** Content-addressed shard manifest — the reproducibility artifact a
    * corpus release ships with: per shard (doc_id div 64), the doc count,
    * token total, id range, and an ORDER-FREE content checksum (sum of
    * per-doc 32-bit md5 hashes — the [[graft.ops.Relational]] checksum
    * idiom, so re-shards and re-partitions never change a shard's line).
    * A consumer re-derives the manifest and diffs it to prove they hold
    * exactly the published corpus. One groupBy on the shard key; all
    * integer arithmetic. */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(expr("doc_id div 64").as("shard_id"), col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h32"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("h32")).cast("long").as("content_checksum"))
      .orderBy(col("shard_id"))

  /** Mixture upsampling with FRACTIONAL epoch weights (the "repeat
    * underrepresented sources 2.3×" step of corpus mixing): every doc
    * appears floor(w) times, plus one more iff its md5-uniform falls under
    * frac(w) — deterministic, shard-stable, no RNG state (the same
    * md5-rank idiom as [[hashSplit]]). The repeat is a genuine map-only
    * `explode(sequence(1, n))` — linear output, no shuffle until the
    * summary aggregate; weights ≥ 1 keep n ≥ 1 (Spark's sequence(1, 0)
    * would descend, SURVEY §5.3 hazard). The fractional parts used
    * (.0/.5) are binary-exact, so the u < frac(w) cut is bit-identical
    * across engines. */
  def epochRepeat(s: SparkSession, d: String): DataFrame = {
    val w = when(col("lang") === "en", 1.0)
      .when(col("lang") === "zh", 2.5)
      .when(col("lang") === "fr", 1.5)
      .when(col("lang") === "es", 2.0)
      .otherwise(3.0)
    val u = md5bucket(concat(lit("rep:"), col("doc_id").cast("string")), 1000)
      .cast("double") / 1000.0
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), w.as("w"), u.as("u"))
      .withColumn("n",
        floor(col("w")).cast("long") +
          when(col("u") < col("w") - floor(col("w")), 1L).otherwise(0L))
    // sequence(1, 0) DESCENDS in Spark (emits [1,0]) — a weight < 1
    // would inflate copies instead of dropping the doc. Filter first so
    // n = 0 fails safe to zero copies IN THE CORPUS, while the summary
    // denominator below still counts every input doc (the oracle's
    // COUNT(*)) — a future weight < 1 shrinks realized_epochs instead of
    // silently dropping n = 0 docs from n_docs.
    val copies = perDoc.filter(col("n") >= 1L)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n"))).as("copy_id"))
    val denom = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    copies.groupBy(col("lang")).agg(count(lit(1)).as("n_copies"))
      .join(denom, Seq("lang"), "right")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_copies"), lit(0L)).as("n_copies"))
      .withColumn("realized_epochs",
        col("n_copies").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("lang"))
  }

  /** Length-bucketed batch packing — the batching-efficiency step of a
    * training pipeline: within each lang, docs sort by token count and
    * fill fixed-size batches of 8, so sequences in a batch have similar
    * lengths and padding (to the batch max) is minimized. Emits per-batch
    * stats including `pad_waste` = 8·max − sum, the tokens a padded batch
    * burns — the number this op exists to shrink vs random batching. One
    * rank window per lang (same partitioning note as [[packSequences]]:
    * at extreme scale the key becomes (lang, length-band) with the offset
    * algebra; the per-lang form is the oracle-provable baseline). Integer
    * arithmetic end-to-end. */
  def lengthBatches(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
      .withColumn("batch_id", expr("(row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) - 1) div 8"))
      .groupBy(col("lang"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
      .withColumn("pad_waste",
        (col("n_docs") * col("max_tokens") - col("sum_tokens")).cast("long"))
      .orderBy(col("lang"), col("batch_id"))
  }

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val bench = sh.filter(col("doc_id") % 53 === 0).select(col("sh")).distinct()
    val corp = sh.filter(col("doc_id") % 53 =!= 0)
      .select(col("doc_id"), col("sh")).distinct()
    corp.join(broadcast(bench), Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-token-budget sequence packing: within each lang, docs fill
    * 512-token training sequences in doc_id order (contiguous-fill packing:
    * a doc's sequence is floor(tokens-before-it / 512)). TWO-LEVEL form —
    * a per-lang window would hand each language's whole corpus to ONE task
    * (~4 langs = 4 tasks at any scale), so the running count is computed
    * per (lang, shard = doc_id div 256) in parallel windows, then lifted to
    * the global per-lang count by adding a prefix-sum offset over the
    * 256×-smaller per-shard token-total table (the [[globalIds]] offset
    * algebra; shard is monotone in doc_id within a lang, so shard-local
    * rank + shard offset ≡ the single-window cumsum exactly — the oracle
    * stays the naive per-lang window, proving it). The offset table's own
    * prefix window is per-lang over |docs|/256 rows; at extreme scale the
    * same algebra recurses — so the offset join carries NO broadcast hint
    * (size-based planning/AQE picks broadcast while offs is small and
    * degrades to a shuffle join instead of an OOM once it isn't). Integer
    * arithmetic end-to-end: no float drift across engines. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), expr("doc_id div 256").as("shard"),
        size(tokens(col("text"))).as("n_tokens"))
    val wLocal = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy(col("lang")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("off", coalesce(sum(col("shard_tokens")).over(wOff), lit(0L)))
      .select(col("lang"), col("shard"), col("off"))
    base
      .withColumn("local_before",
        coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      .join(offs, Seq("lang", "shard"))
      .withColumn("seq_id", expr("(off + local_before) div 512"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** Per-source document quota (domain caps): keep at most 15 docs per
    * source, chosen by a deterministic md5 ranking — the corpus-mixing
    * primitive that stops one crawl domain from dominating the training
    * set. The hash rank makes the kept subset a stable function of the
    * data (re-runs, re-shards, and cluster size never change it), unlike
    * `sample()`. One shuffle on source; for a skewed source the rank can
    * be two-level (salted pre-rank → re-rank of the ≤ salts×quota
    * survivors) without changing the result. */
  def sourceQuota(s: SparkSession, d: String): DataFrame = {
    val key = conv(substring(
      md5(concat(lit("quota:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("source")).orderBy(key, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 15)
      .orderBy(col("source"), col("rk"))
  }

  /** Corpus-common-phrase (boilerplate) scoring, the C4-style filter: a
    * bigram shingle is boilerplate when it appears in ≥ 8% of all
    * documents; a doc is dropped when boilerplate covers > 20% of its
    * distinct shingles. The threshold is relative (integer-form
    * `df·100 ≥ 8·N`), so the operator means the same thing at every
    * corpus size. Shuffle census: the shingle stream is exploded once and
    * persisted (read 3×: doc-frequency, per-doc totals, per-doc boiler
    * counts); the boiler set is tiny by construction (bounded by the
    * common-phrase vocabulary) and broadcasts, so the per-doc count never
    * shuffles the corpus a second time. */
  def boilerplate(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    // Corpus size enters the boiler-set filter as a broadcast 1-row cross
    // join; a driver-side count() here would run an extra scan job at
    // plan-build time and make query registration eager.
    val nDocs = broadcast(Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs")))
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), t.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("sh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val boiler = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .filter(col("df") * 100 >= lit(8L) * col("n_docs"))
      .select(col("sh"))
    val per = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val nb = sh.join(broadcast(boiler), Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    val frac = coalesce(col("n_boiler"), lit(0L)).cast("double") / col("n_sh")
    per.join(nb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        frac.as("boiler_frac"),
        when(frac <= 0.20, 1).otherwise(0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Token-budgeted sampling: per language, take documents in the stable
    * md5 order until a 2000-token budget fills (running-sum window +
    * filter) — how a mixture is downsampled to a target token count
    * without RNG state. Deterministic: same data → same subset at any
    * cluster size. One shuffle on lang; the cumsum is integer-exact. */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val rkey = conv(substring(
      md5(concat(lit("budget:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(col("rkey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        rkey.as("rkey"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") <= 2000)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("cum")).as("budget_used"))
      .orderBy(col("lang"))
  }

  /** Deterministic curriculum interleave (mixture schedule): rank docs
    * within each source by the stable md5 order, then emit the global
    * training order (rank 1 of every source, then rank 2, …) — round-robin
    * across sources, so no source ever dominates a training window. Pure
    * function of the data: re-runs, re-shards, and cluster size never
    * change the schedule. The global position reuses the
    * [[globalIds]] offset algebra — rank within each round, plus a
    * broadcast prefix-sum of the per-round count table — and because the
    * round grid itself is data-proportional (max per-source count), that
    * prefix-sum is bucket-localized too: 1024-rank buckets, per-bucket
    * bases from the knob-shrunk bucket table, inner cumsum partitioned on
    * the bucket. No single-task window anywhere reads an input that grows
    * with the corpus; the oracle IS the naive global row_number. */
  def interleave(s: SparkSession, d: String): DataFrame = {
    val key = conv(substring(
      md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("source")).orderBy(key, col("doc_id"))
    val ranked = Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
    // Distinct rk = the LARGEST source's doc count — data-proportional —
    // so the offset prefix-sum is bucket-localized like every other grid
    // cumsum in the repo: 1024-wide rank buckets get base offsets from an
    // unpartitioned window over the maxRk/1024-row bucket table (knob-
    // shrunk, no longer corpus-scale in one task), then the per-rank
    // cumsum partitions on the bucket and adds the broadcast base.
    // Identical longs to the single-window form.
    val cnt = ranked.groupBy(col("rk")).agg(count(lit(1)).as("n"))
      .withColumn("rb", floor((col("rk") - 1) / 1024.0).cast("long"))
    val wB = Window.orderBy(col("rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = cnt.groupBy(col("rb")).agg(sum(col("n")).as("bn"))
      .withColumn("base", coalesce(sum(col("bn")).over(wB), lit(0L)))
      .select(col("rb"), col("base"))
    val wIn = Window.partitionBy(col("rb")).orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cnt.join(broadcast(base), Seq("rb"))
      .withColumn("off",
        col("base") + coalesce(sum(col("n")).over(wIn), lit(0L)))
      .select(col("rk"), col("off"))
    ranked
      .withColumn("r2", row_number().over(
        Window.partitionBy(col("rk")).orderBy(col("source"), col("doc_id"))))
      .join(broadcast(offs), Seq("rk"))
      .select(col("doc_id"), col("source"), col("rk"),
        (col("off") + col("r2") - 1).as("pos"))
      .orderBy(col("pos"))
  }

  /** Contiguous global row ids 0..N-1 in (lang, doc_id) order WITHOUT the
    * single-partition global window that `row_number() OVER (ORDER BY …)`
    * plans to: rank within each lang partition (parallel window), then add
    * per-lang offsets computed by a prefix sum over the tiny |langs|-row
    * count table (broadcast back). The groupBy reuses the window's hash
    * partitioning on lang, so the fact side shuffles once; only the
    * |langs|-row offset table passes through a single task. The oracle IS
    * the naive global window — proving the two plans agree. At 100 TB with
    * a skewed split key, swap lang for (lang, shard) range buckets; the
    * offset algebra is unchanged. */
  def globalIds(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val wLang = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    val wOff = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("lang"), col("off"))
    docs.withColumn("rn", row_number().over(wLang))
      .join(broadcast(offs), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (col("off") + col("rn") - 1).as("gid"))
      .orderBy(col("gid"))
  }

  /** DSIR-style distribution-matching importance score (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" — the
    * hashed-n-gram importance-weight idea, linearized): tokens hash into 16
    * buckets (portable md5 bucket), the corpus bucket distribution is
    * measured, and each document scores Σ_b c_db · (target_b / corpus_b)
    * with a uniform target — documents whose tokens concentrate in
    * corpus-RARE buckets score high and would be preferentially resampled
    * toward the target distribution. Top-50 emitted.
    *
    * Determinism: the per-doc sum folds its ≤16 bucket contributions in
    * bucket order (array_sort of struct(bucket, contrib) — same fold as
    * [[graft.ops.LlmSimilarity.centroids]]); ratios are pure IEEE
    * divides/multiplies, so the score hashes bit-exact vs DuckDB.
    * Scale: the corpus is tokenized ONCE — the (doc, bucket) count table
    * (≤16 rows per doc) is the persisted small intermediate, and both the
    * 16-row bucket distribution and the token total are exact integer
    * re-aggregations of it (released by `CacheHygiene` after the action);
    * one corpus shuffle, broadcast ratio tables, nothing unbounded. */
  def dsirScore(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5bucket(col("tok"), 16).as("bucket"))
    val db = toks.groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c_db"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bt = db.groupBy(col("bucket")).agg(sum(col("c_db")).as("c_b"))
    val tot = db.agg(sum(col("c_db")).as("n_tok"))
    db.join(broadcast(bt), Seq("bucket"))
      .crossJoin(broadcast(tot))
      .withColumn("contrib", col("c_db").cast("double") *
        (col("n_tok").cast("double") / lit(16.0) / col("c_b").cast("double")))
      .groupBy(col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("bucket"), col("contrib")))),
        lit(0.0), (a, t) => a + t.getField("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
      // deliberate re-sort: limit's output order is not a plan guarantee,
      // and the driver hash-compares emitted row order against the oracle
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Temperature-based mixture rebalancing (α = 0.5): sample each language
    * proportional to n_ℓ^α instead of n_ℓ — the standard mixture-flattening
    * move of multilingual training mixes, upweighting small languages
    * without discarding large ones (lang is the fixture's genuinely skewed
    * grouping; the same code reweights any mixture key). Targets are
    * floor(200 · √n_ℓ / Σ√n) docs per lang; selection within a lang is by
    * stable md5 rank (shard- and run-independent, like [[sourceQuota]]).
    * √ is correctly-rounded IEEE so the weights are bit-exact across
    * engines; Σ√n folds in lang order over |langs| terms. The lang count
    * table is tiny at any scale; the per-lang rank window is the only
    * shuffle — at 100 TB with few huge languages the rank would move to
    * the (lang, shard)+offset algebra of [[globalIds]]. */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
    val tw = n.agg(aggregate(
      array_sort(collect_list(struct(col("lang"),
        sqrt(col("n_s").cast("double")).as("w")))),
      lit(0.0), (a, t) => a + t.getField("w")).as("total_w"))
    val tgt = n.crossJoin(broadcast(tw))
      .select(col("lang"),
        floor((lit(200.0) * sqrt(col("n_s").cast("double"))) / col("total_w"))
          .cast("long").as("target_n"))
    val rank = conv(substring(md5(concat(lit("tmix:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(rank, col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .join(broadcast(tgt), Seq("lang"))
      .filter(col("rn") <= col("target_n"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** Overlapping context-window chunking (the RAG / long-context prep
    * step): each document's token stream is cut into windows of 32 tokens
    * with stride 24 (8-token overlap, so no boundary loses context). The
    * chunk count is closed-form (1 + ⌈(n−32)/24⌉ for n > 32), the windows
    * come from one `explode(sequence)` + array slice — map-only, linear
    * in corpus tokens × (1 + overlap fraction), no shuffle before the
    * dump sort. Chunks are content-addressed (md5 of the joined window)
    * so downstream chunk-level dedup ([[graft.ops.LlmDedup.chunkDedup]])
    * composes directly. */
  def chunkOverlap(s: SparkSession, d: String): DataFrame = {
    val win = 32
    val stride = 24
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .withColumn("n_chunks",
        when(col("n") <= win, lit(1L))
          .otherwise(floor((col("n") - win + stride - 1) / lit(stride)) + 1L))
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(lit(win), col("n") - col("chunk_idx") * stride).cast("long")
          .as("n_toks"),
        md5(array_join(slice(col("t"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(win)), " "))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Largest-remainder (Hamilton) apportionment of a 1M-token training
    * budget across sources, proportional to each source's token mass —
    * the integer-exact way to turn mixture WEIGHTS into per-source token
    * QUOTAS that sum to the budget exactly (naive rounding over- or
    * under-shoots). All algebra is integer (budget·toks div/mod total),
    * so the result is bit-portable with no float apportionment drift.
    * The ranking window runs over the per-source aggregate (a handful of
    * rows), never the corpus — the window-on-reduced-table idiom. */
  def apportion(s: SparkSession, d: String): DataFrame = {
    val budget = 1000000L
    import org.apache.spark.sql.expressions.Window
    val bySource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(tokens(col("text")))).cast("long").as("toks"))
    val tot = bySource.agg(sum(col("toks")).as("total"))
    val q = bySource.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"${budget}L * toks div total"))
      .withColumn("rem", expr(s"(${budget}L * toks) % total"))
    val leftover = q.agg((lit(budget) - sum(col("base"))).as("leftover"))
    val w = Window.orderBy(col("rem").desc, col("source"))
    q.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(w))
      .withColumn("extra", when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("toks"), col("base"), col("rem"),
        col("extra"), (col("base") + col("extra")).as("quota"))
      .orderBy(col("source"))
  }

  /** Dataset card — the release-notes summary table every corpus ships
    * with, as one long-format (metric, scope, value) query: per-lang doc
    * and token counts, per-source doc counts, corpus-level dup rate,
    * average length, and source cardinality. Each arm is a partial+final
    * aggregate over its own key; the union is rows-not-columns so new
    * metrics append without schema changes. Values are exact integers or
    * a single IEEE division. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val byLang = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(size(tokens(col("text")))).as("t"))
    val langDocs = byLang.select(lit("n_docs").as("metric"),
      col("lang").as("scope"), col("n").cast("double").as("value"))
    val langToks = byLang.select(lit("n_tokens").as("metric"),
      col("lang").as("scope"), col("t").cast("double").as("value"))
    val srcDocs = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .select(lit("n_docs").as("metric"), col("source").as("scope"),
        col("n").cast("double").as("value"))
    val overall = docs.agg(
      count(lit(1)).as("n"),
      countDistinct(md5(col("text"))).as("nd"),
      sum(col("n_chars")).as("chars"),
      countDistinct(col("source")).as("ns"))
      .select(array(
        struct(lit("dup_rate").as("metric"), lit("all").as("scope"),
          ((col("n") - col("nd")).cast("double") / col("n").cast("double"))
            .as("value")),
        struct(lit("avg_chars").as("metric"), lit("all").as("scope"),
          (col("chars").cast("double") / col("n").cast("double")).as("value")),
        struct(lit("n_sources").as("metric"), lit("all").as("scope"),
          col("ns").cast("double").as("value"))).as("rows"))
      .select(explode(col("rows")).as("r"))
      .select(col("r.metric"), col("r.scope"), col("r.value"))
    langDocs.unionByName(langToks).unionByName(srcDocs).unionByName(overall)
      .orderBy(col("metric"), col("scope"))
  }

  private val sqlToks =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"

  override def catalog: Seq[Query] = Seq(
    Query("corpus_dataset_card", datasetCard, Some(
      s"""SELECT metric, scope, value FROM (
         |  SELECT 'n_docs' AS metric, lang AS scope,
         |    CAST(COUNT(*) AS DOUBLE) AS value
         |  FROM documents GROUP BY lang
         |  UNION ALL
         |  SELECT 'n_tokens', lang, CAST(SUM(len($sqlToks)) AS DOUBLE)
         |  FROM documents GROUP BY lang
         |  UNION ALL
         |  SELECT 'n_docs', source, CAST(COUNT(*) AS DOUBLE)
         |  FROM documents GROUP BY source
         |  UNION ALL
         |  SELECT 'dup_rate', 'all',
         |    CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE)
         |  FROM documents
         |  UNION ALL
         |  SELECT 'avg_chars', 'all',
         |    CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |  FROM documents
         |  UNION ALL
         |  SELECT 'n_sources', 'all', CAST(COUNT(DISTINCT source) AS DOUBLE)
         |  FROM documents) t
         |ORDER BY metric, scope""".stripMargin)),
    Query("corpus_apportion", apportion, Some(
      s"""WITH t AS (
         |  SELECT source, CAST(SUM(len($sqlToks)) AS BIGINT) AS toks
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM t),
         |q AS (
         |  SELECT source, toks,
         |    CAST((1000000 * toks) // total AS BIGINT) AS base,
         |    CAST((1000000 * toks) % total AS BIGINT) AS rem
         |  FROM t, tot),
         |l AS (SELECT CAST(1000000 - SUM(base) AS BIGINT) AS leftover FROM q),
         |r AS (SELECT q.source, q.toks, q.base, q.rem, l.leftover,
         |    row_number() OVER (ORDER BY q.rem DESC, q.source) AS rk
         |  FROM q, l)
         |SELECT source, toks, base, rem,
         |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         |    AS quota
         |FROM r ORDER BY source""".stripMargin)),
    Query("corpus_chunk_overlap", chunkOverlap, Some(
      s"""WITH t AS (
         |  SELECT doc_id, $sqlToks AS ws, len($sqlToks) AS n FROM documents),
         |c AS (
         |  SELECT doc_id, ws, n,
         |    CASE WHEN n <= 32 THEN 1
         |      ELSE CAST(floor((n - 32 + 23) / 24.0) AS BIGINT) + 1 END
         |      AS n_chunks
         |  FROM t)
         |SELECT doc_id, chunk_idx,
         |  chunk_idx * 24 AS start_tok,
         |  CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_toks,
         |  md5(array_to_string(list_slice(ws, CAST(chunk_idx * 24 + 1 AS INT),
         |    CAST(chunk_idx * 24 + 32 AS INT)), ' ')) AS chunk_md5
         |FROM (SELECT doc_id, ws, n,
         |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
         |  FROM c) x
         |ORDER BY doc_id, chunk_idx""".stripMargin)),
    Query("corpus_temperature_mix", temperatureMix, Some(
      """WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s
        |  FROM documents GROUP BY lang),
        |tw AS (SELECT list_reduce(list_prepend(0.0, list(
        |    sqrt(CAST(n_s AS DOUBLE)) ORDER BY lang)), (a,x) -> a + x)
        |  AS total_w FROM n),
        |tgt AS (SELECT lang,
        |    CAST(floor((200.0 * sqrt(CAST(n_s AS DOUBLE))) / total_w) AS BIGINT)
        |    AS target_n
        |  FROM n CROSS JOIN tw),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(('0x' || substring(md5('tmix:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, rn
        |FROM r JOIN tgt USING (lang) WHERE rn <= target_n
        |ORDER BY lang, rn""".stripMargin)),
    Query("corpus_dsir", dsirScore, Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 16 AS bucket
         |  FROM (SELECT doc_id, unnest($sqlToks) AS tok FROM documents) t),
         |db AS (SELECT doc_id, bucket, COUNT(*) AS c_db FROM toks GROUP BY 1, 2),
         |b AS (SELECT bucket, COUNT(*) AS c_b FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks),
         |scored AS (
         |  SELECT db.doc_id,
         |    list_reduce(list_prepend(0.0, list(
         |      CAST(db.c_db AS DOUBLE) *
         |        (CAST(tot.n_tok AS DOUBLE) / 16.0 / CAST(b.c_b AS DOUBLE))
         |      ORDER BY db.bucket)), (a, x) -> a + x) AS score
         |  FROM db JOIN b USING (bucket) CROSS JOIN tot
         |  GROUP BY db.doc_id)
         |SELECT doc_id, score FROM scored
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin)),
    Query("pipeline_corpus", new graft.api.CorpusPipeline().run, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]) AS sh
         |  FROM toks WHERE len(t) >= 8),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 53 = 0),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM sh JOIN bench USING (sh)
         |  WHERE doc_id % 53 <> 0),
         |kept AS (
         |  SELECT doc_id, lang, text, len($sqlToks) AS n_tokens
         |  FROM documents
         |  WHERE len($sqlToks) >= 5
         |    AND CAST(length(text) AS DOUBLE) / len($sqlToks) < 12
         |    AND doc_id % 53 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |reps AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
         |final AS (SELECT k.* FROM kept k JOIN reps r USING (doc_id)),
         |split AS (
         |  SELECT lang, n_tokens, doc_id,
         |    CASE WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |           AS BIGINT) % 100 < 80 THEN 'train'
         |         WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |           AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM final)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  MIN(doc_id) AS first_doc
         |FROM split GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("corpus_weighted_sample", weightedSample, Some(
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(FLOOR(1.0e9 * LN((CAST(CAST(('0x' ||
        |        substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) % 1000000 AS DOUBLE) + 0.5) / 1000000.0) /
        |      CAST(n_chars AS DOUBLE)) AS BIGINT) AS key_nano
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars, key_nano
        |FROM k ORDER BY key_nano DESC, doc_id LIMIT 50""".stripMargin)),
    Query("corpus_split", hashSplit, Some(
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("text_repetition", repetition, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, $sqlToks AS t FROM documents),
         |uni AS (
         |  SELECT doc_id, tok, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(t) AS tok FROM toks) u GROUP BY doc_id, tok),
         |us AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    COUNT(*) AS n_distinct, MAX(c) AS top_word_n
         |  FROM uni GROUP BY doc_id),
         |bg AS (
         |  SELECT doc_id, s, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS s
         |    FROM toks) b GROUP BY doc_id, s),
         |bs AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bg GROUP BY doc_id)
         |SELECT us.doc_id, n_tokens, n_distinct, top_word_n,
         |  CAST(top_word_n AS DOUBLE) / n_tokens AS top_word_frac,
         |  COALESCE(top_bigram_n, CAST(0 AS BIGINT)) AS top_bigram_n,
         |  CAST(COALESCE(top_bigram_n, 0) AS DOUBLE) / greatest(n_tokens - 1, 1)
         |    AS top_bigram_frac,
         |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio
         |FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
         |ORDER BY us.doc_id""".stripMargin)),
    Query("text_decontaminate", decontaminate, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, $sqlToks AS t FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    unnest([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]) AS sh
         |  FROM toks WHERE len(t) >= 8),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 53 = 0),
         |corp AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 53 <> 0)
         |SELECT doc_id, COUNT(*) AS n_overlap
         |FROM corp JOIN bench USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("corpus_source_quota", sourceQuota, Some(
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substring(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 15
        |ORDER BY source, rk""".stripMargin)),
    Query("corpus_global_ids", globalIds, Some(
      """SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (ORDER BY lang, doc_id) - 1 AS gid
        |FROM documents ORDER BY gid""".stripMargin)),
    Query("corpus_interleave", interleave, Some(
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk,
        |  ROW_NUMBER() OVER (ORDER BY rk, source, doc_id) - 1 AS pos
        |FROM r ORDER BY pos""".stripMargin)),
    Query("text_boilerplate", boilerplate, Some(
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |sh0 AS (SELECT doc_id,
         |    unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS sh
         |  FROM toks WHERE len(t) >= 2),
         |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
         |boiler AS (SELECT sh FROM sh GROUP BY sh
         |  HAVING COUNT(*) * 100 >= 8 * (SELECT COUNT(*) FROM documents)),
         |per AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |nb AS (SELECT doc_id, COUNT(*) AS n_boiler
         |  FROM sh JOIN boiler USING (sh) GROUP BY doc_id)
         |SELECT per.doc_id, n_sh, COALESCE(n_boiler, 0) AS n_boiler,
         |  CAST(COALESCE(n_boiler, 0) AS DOUBLE) / n_sh AS boiler_frac,
         |  CAST(CAST(COALESCE(n_boiler, 0) AS DOUBLE) / n_sh <= 0.20 AS INT)
         |    AS keep
         |FROM per LEFT JOIN nb ON per.doc_id = nb.doc_id
         |ORDER BY per.doc_id""".stripMargin)),
    Query("corpus_token_budget", tokenBudget, Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang, len($sqlToks) AS n_tokens,
         |    CAST(('0x' || substring(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) AS rkey
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY rkey, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM t)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  MAX(cum) AS budget_used
         |FROM c WHERE cum <= 2000 GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("corpus_shard_manifest", shardManifest, Some(
      s"""SELECT doc_id // 64 AS shard_id, COUNT(*) AS n_docs,
         |  CAST(SUM(len($sqlToks)) AS BIGINT) AS total_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |  CAST(SUM(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT))
         |    AS BIGINT) AS content_checksum
         |FROM documents GROUP BY doc_id // 64
         |ORDER BY shard_id""".stripMargin)),
    Query("corpus_epoch_repeat", epochRepeat, Some(
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 1.0 WHEN 'zh' THEN 2.5
        |      WHEN 'fr' THEN 1.5 WHEN 'es' THEN 2.0 ELSE 3.0 END AS w,
        |    CAST(CAST(('0x' || substring(md5('rep:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 1000 AS DOUBLE) / 1000.0 AS u
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(w) AS BIGINT)
        |      + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END AS n
        |  FROM r)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_copies,
        |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS realized_epochs
        |FROM n GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("corpus_length_batches", lengthBatches, Some(
      s"""SELECT lang, batch_id, COUNT(*) AS n_docs,
         |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS pad_waste
         |FROM (
         |  SELECT doc_id, lang, n_tokens,
         |    (row_number() OVER (PARTITION BY lang
         |       ORDER BY n_tokens, doc_id) - 1) // 8 AS batch_id
         |  FROM (SELECT doc_id, lang, len($sqlToks) AS n_tokens
         |        FROM documents) u) t
         |GROUP BY lang, batch_id ORDER BY lang, batch_id""".stripMargin)),
    Query("corpus_pack", packSequences, Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang, len($sqlToks) AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS cum_before
         |  FROM t)
         |SELECT lang, cum_before // 512 AS seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY lang, cum_before // 512
         |ORDER BY lang, seq_id""".stripMargin)),
  )
}
