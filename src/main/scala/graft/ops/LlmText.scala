package graft.ops

import graft.{Query, QueryModule, Tables}
import graft.OracleSafe.d2d
import graft.ops.Corpus.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY.md §2.11): language ID,
  * quality scoring, token counting, word frequency, fingerprinting.
  *
  * All map-only over `documents` (plus one groupBy for word frequency) —
  * no UDFs, so whole-stage codegen covers every expression and the plans
  * are scan-bound at 100 TB. */
object LlmText extends QueryModule {

  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** N-gram-heuristic language ID: stopword-hit scoring with a fixed
    * preference order on ties (en > es > fr > de). */
  def langId(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    val sc = stopwords.map { case (l, ws) => l -> hits(t, ws) }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        sc("en").as("s_en"), sc("es").as("s_es"),
        sc("fr").as("s_fr"), sc("de").as("s_de"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
             col("s_en") >= col("s_de"), "en")
        .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
        .when(col("s_fr") >= col("s_de"), "fr")
        .otherwise("de"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length, token stats, punctuation/stopword ratios, and
    * a keep/drop flag — the C4-style heuristic battery. */
  def quality(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        size(t).as("n_tokens"),
        (length(col("text")).cast("double") / size(t)).as("chars_per_token"),
        (size(filter(t, w => length(w) >= 6)).cast("double") / size(t))
          .as("long_token_ratio"),
        (length(regexp_replace(col("text"), "[a-z0-9\\s]", "")).cast("double")
          / length(col("text"))).as("punct_ratio"),
        (hits(t, stopwords("en")).cast("double") / size(t)).as("stopword_ratio"))
      .withColumn("keep",
        (col("n_tokens") >= 5 && col("chars_per_token") < 12).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens vs BPE-ish regex pieces. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .as("n_bpe_pieces"))
      .orderBy(col("doc_id"))

  /** Corpus-level word frequency: top 50 tokens (count desc, token asc).
    * explode → groupBy: the one shuffling query here; partial aggregation
    * keeps shuffle volume at |vocab|, not |tokens|. */
  def wordFreq(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  /** PMI-ranked collocations: the word pairs that co-occur adjacently far
    * more than chance — the phrase-mining primitive behind tokenizer
    * vocab curation and "New York"-style phrase merging. Ranking is BY
    * LIFT = P(ab)/(P(a)·P(b)) = c_ab·N²/(M·c_a·c_b), which is monotone in
    * PMI, so NO logarithm runs on either engine: the value is one float
    * expression over four exact BIGINT counts (StrictMath-vs-libm never
    * enters). Bigrams explode linearly from the token stream (min support
    * 5 prunes the pair table before the unigram joins); one corpus scan
    * feeds both the unigram and bigram aggregates. */
  def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(tokens(col("text")).as("toks"))
      .localCheckpoint(false) // feeds the unigram AND bigram explodes
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val bg = docs.filter(size(col("toks")) >= 2) // sequence(2,1) descends
      .select(explode(expr(
        """transform(sequence(2, size(toks)), i -> named_struct(
          |  'a', element_at(toks, CAST(i - 1 AS INT)),
          |  'b', element_at(toks, CAST(i AS INT))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val pairs = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val tot = uni.agg(sum(col("c_w")).as("n"))
    val mTot = bg.agg(count(lit(1)).as("m"))
    pairs
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), Seq("b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(mTot))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast("double") * col("n").cast("double") *
          col("n").cast("double") /
          (col("m").cast("double") * col("c_a").cast("double") *
            col("c_b").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("a").asc, col("b").asc)
      .limit(30)
  }

  /** Compression-ratio quality signal (the Gopher/RefinedWeb-class
    * filter): deflate each document at a FIXED level and report
    * compressed/raw per mille — highly repetitive boilerplate compresses
    * far below natural text and gets dropped. Runs inside the same
    * mapPartitions codec contract as the Multimodal decoders (Deflater is
    * imperative by nature; one Deflater per partition, reset per row).
    * Rows-only by design: zlib OUTPUT BYTES are version-dependent, so no
    * DuckDB twin exists — Round14Spec pins determinism, the exact length
    * arithmetic against an independent deflate, and lossless round-trip.
    * Scale: map-only, zero shuffle before the final order. */
  def compressRatio(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val defl = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](4096)
        rows.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          defl.reset(); defl.setInput(raw); defl.finish()
          var clen = 0L
          while (!defl.finished()) clen += defl.deflate(buf)
          (id, raw.length.toLong, clen,
            if (raw.length > 0) 1000L * clen / raw.length else -1L)
        }
      }.toDF("doc_id", "raw_len", "deflate_len", "ratio_milli")
      .withColumn("keep",
        when(col("ratio_milli") >= 300L, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: md5 over the sorted distinct token set (canonical
    * bag-of-words identity — robust to word order), plus a 32-bit numeric
    * fingerprint from its first 8 hex digits. */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val canon = md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
    Tables.documents(s, d)
      .select(col("doc_id"), canon.as("fp_md5"),
        conv(substring(canon, 1, 8), 16, 10).cast("long").as("fp32"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash winnowing fingerprints (k=8 chars, window 4): per doc the
    * count of selected fingerprints plus a stable digest of the set —
    * overlap of these sets is the plagiarism-style near-dup signal.
    * Rows-only (rolling-hash selection isn't reasonably expressible in the
    * SQL oracle); semantics pinned in LlmSpec (identity, shift-robustness). */
  def winnowFingerprint(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.winnow(col("text")).as("fps"))
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        xxhash64(concat_ws(",", col("fps").cast("array<string>"))).as("fp_digest"))
      .orderBy(col("doc_id"))
  }

  /** Text normalization battery — the first stage of every training-data
    * pipeline: case-fold, strip punctuation/symbols, collapse whitespace,
    * trim. The fixture text is already clean, so a deterministic "dirty"
    * variant (banner prefix, tab, trailing blank lines) is built first and
    * normalized back — the oracle builds the identical dirty corpus.
    * Map-only scan→project; all regexes codegen'd. */
  def normalize(s: SparkSession, d: String): DataFrame = {
    val raw = concat(lit("  **"), upper(substring(col("text"), 1, 16)),
      lit("**\t"), col("text"), lit("  \n"))
    Tables.documents(s, d)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("n_chars_raw"),
        trim(regexp_replace(
          regexp_replace(lower(col("raw")), "[^a-z0-9\\s]", " "),
          "\\s+", " ")).as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF per (doc, token), top-5 terms per document. The idf factor is
    * expressed as the exact ratio N/df (a monotone transform of ln(N/df))
    * so scores are IEEE-division-exact on both engines — ln differs in the
    * last ulp between libm implementations and would break hash parity. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // Corpus size N enters the plan as a broadcast 1-row cross join — a
    // driver-side docs.count() here would launch a full extra scan job at
    // plan-BUILD time (measured 2.6x on this query at sf0.1) and break
    // single-plan composability.
    val nDocs = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    terms.join(df, "token")
      .crossJoin(nDocs)
      .withColumn("score",
        col("tf") * (col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** End-to-end training-data prep capstone — the composition the library
    * exists for, in one plan: quality filter (token count + chars/token
    * band) → exact dedup (keep the min-doc_id representative per content
    * hash, via `row_number` over the hash — no self-join) → per-(lang,
    * source) corpus stats. EXACTLY two shuffles regardless of corpus
    * size — the dedup window's hash partition and the stats groupBy —
    * enforced by PlanAuditSpec. */
  def prepPipeline(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        size(t).as("n_tokens"),
        (length(col("text")).cast("double") / size(t)).as("cpt"))
      .filter(col("n_tokens") >= 5 && col("cpt") < 12)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"), col("source"))
  }

  /** Model-based quality scoring, fastText-filter style: a linear
    * classifier over HASHED bag-of-words features (16 buckets, the hashing
    * trick — no vocabulary to ship) with a fixed keyed-hash weight vector,
    * score = ⟨counts, w⟩ / n_tokens. This is the shape of every
    * learned-filter pass (DCLM/fastText quality models): tokenize → hash →
    * sparse dot product against broadcast weights — per-doc work is O(len),
    * the "model" is constant-size, and the plan is two partial+final aggs
    * keyed by doc_id, so it runs unchanged at 100 TB. The dot product folds
    * in bucket order over ≤16 terms (bit-exact, same recipe as
    * [[Corpus.dsirScore]]); real learned weights would broadcast the same
    * way. Top-50 by score. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val buck = conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long") % 16
    val db = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), buck.as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val nt = db.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val w = (conv(substring(md5(concat(lit("qw:"),
      col("bucket").cast("string"))), 1, 8), 16, 10).cast("long") % 2001
      - 1000).cast("double") / lit(1000.0)
    db.withColumn("contrib", col("c").cast("double") * w)
      .groupBy(col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("bucket"), col("contrib")))),
        lit(0.0), (a, t) => a + t.getField("contrib")).as("raw"))
      .join(nt, Seq("doc_id"))
      .select(col("doc_id"), (col("raw") / col("n").cast("double")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
      // re-sort after limit: emitted row order is hash-compared
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Char-unigram entropy over [a-z] letters (Gopher-style quality signal —
    * low-entropy docs are boilerplate/repetition): explode letters →
    * per-(doc, char) counts → H = Σ (c/n)·ln(n/c), folded in char order so
    * the float add order is deterministic (the DuckDB twin prepends the
    * same 0.0 init and reduces over `list(term ORDER BY ch)` — identical op
    * sequence). Spark's ln is StrictMath.log while DuckDB's is the libm
    * intrinsic — they differ by 1 ulp on some inputs — so the sum is
    * rounded to 6 decimals on both sides (round(double, k) is bit-portable:
    * both engines produce the correctly-rounded double of the k-decimal
    * value). The positive ln(n/c) form keeps every term ≥ +0.0, avoiding a
    * -0.0 single-term hash mismatch. One shuffle on doc_id; per-group state
    * is bounded by the 26-letter alphabet, so the plan carries to 100 TB. */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]"), lit(0)))
          .as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_letters"),
        count(lit(1)).as("n_distinct_letters"))
    counts.join(totals, Seq("doc_id"))
      .withColumn("term",
        (col("c").cast("double") / col("n_letters").cast("double")) *
          log(col("n_letters").cast("double") / col("c").cast("double")))
      .groupBy(col("doc_id"), col("n_letters"), col("n_distinct_letters"))
      .agg(max(col("c")).as("max_char_count"),
        round(
          aggregate(array_sort(collect_list(struct(col("ch"), col("term")))),
            lit(0.0), (a, t) => a + t.getField("term")),
          6).as("entropy_nats"))
      .select(col("doc_id"), col("n_letters"), col("n_distinct_letters"),
        col("max_char_count"), col("entropy_nats"))
      .orderBy(col("doc_id"))
  }

  /** Char-bigram language-model scoring (the CCNet-style "train a small LM
    * on the corpus, rank docs by perplexity" quality filter, with the
    * n-gram LM standing in for KenLM): bigram counts over the whole corpus
    * → add-one-smoothed log-probs → per-doc mean log-prob. Low scores mark
    * gibberish/outlier docs. The LM table is ≤ ~729 rows (27² bigrams over
    * [a-z ]), so it broadcasts; corpus counting is one aggregation and
    * per-doc scoring one doc_id shuffle — both linear, carries to 100 TB.
    * Per-doc sums go through exact DECIMAL(38,18) (add-order-free AND
    * partial-aggregation-friendly — measured 2× vs the earlier
    * collect_list sorted fold, which built and sorted ≤ 729 structs per
    * doc); the double→decimal(38,18) rounding of each term is identical
    * on both engines (nearest, non-tie), and ln's ≤ 1-ulp StrictMath vs
    * libm gap is absorbed by round(6) as in charEntropy. */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val norm = Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(regexp_replace(lower(col("text")), "[^a-z ]", ""),
          " +", " ").as("ntext"))
      .filter(length(col("ntext")) >= 2)
    // Overlapping bigrams in ONE linear regex pass (lookahead captures the
    // 2-char window at every position): the previous
    // transform(sequence…substr(ntext, i, 2)) form re-scanned the string
    // from its head on every substr call (UTF8String char indexing is
    // O(position)), i.e. O(len²) per document — measurable at 300-char
    // fixture docs and quadratic-doc-length poison at corpus scale
    // (optimization round 14, guide step 4: per-task work). ntext is
    // [a-z ]-normalized, so `.` never meets a newline and the match set is
    // exactly positions 1..len-1.
    val bi = norm.select(col("doc_id"),
      explode(regexp_extract_all(col("ntext"), lit("(?=(..))"), lit(1)))
        .as("bg"))
    // one explode feeds everything: corpus counts roll up from the per-doc
    // partial counts instead of re-exploding the text
    val docBg = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("dc"))
    val counts = docBg.groupBy(col("bg")).agg(sum(col("dc")).as("c"))
    val tot = counts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val lm = counts.crossJoin(tot)
      .select(col("bg"),
        log((col("c") + 1).cast("double") / (col("n") + col("v")).cast("double"))
          .as("logp"))
    docBg.join(broadcast(lm), Seq("bg"))
      .withColumn("term", col("dc").cast("double") * col("logp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).as("n_bigrams"),
        round(
          d2d(sum(col("term").cast("decimal(38,18)")))
            / sum(col("dc")).cast("double"),
          6).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  /** Learned-filter TRAINING: batch gradient descent for a linear
    * classifier over the same 16 hashed bag-of-words features
    * [[qualityClassifier]] scores with (label y = 1 for English docs) —
    * the fastText-style "train the quality model on the corpus itself"
    * step. Three GD steps as a driver loop over lazy plans (the
    * [[LlmSimilarity.kmeans]] idiom — nothing executes until the caller's
    * action, no collect()): predict = per-doc bucket-ordered fold of
    * x·w against the broadcast 16-row weight table; gradient = 2/n·Σ
    * err·x per bucket, summed in exact DECIMAL so the update is
    * add-order-free; n enters as a broadcast 1-row aggregate (never a
    * driver-side count()). Every iteration is one corpus-feature join +
    * two keyed aggs — linear, carries to 100 TB; the model is always 16
    * rows. Rows-only (iterative training has no SQL twin); Round7Spec
    * pins that the trained weights beat the zero model in-sample. */
  def classifierTrain(s: SparkSession, d: String): DataFrame = {
    val lr = 0.5
    val buck = conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long") % 16
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"), buck.as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("double").as("tot"))
    val x = counts.join(tot, "doc_id")
      .select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        col("bucket"), (col("c").cast("double") / col("tot")).as("x"))
      .repartition(col("doc_id"))
    val n = broadcast(x.select(col("doc_id")).distinct()
      .agg(count(lit(1)).cast("double").as("n")))
    var w: DataFrame = s.range(16)
      .select(col("id").as("bucket"), lit(0.0).as("wgt"))
    for (_ <- 1 to 3) {
      val pred = x.join(broadcast(w), "bucket")
        .groupBy(col("doc_id"), col("y"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("bucket"), (col("x") * col("wgt")).as("t")))),
          lit(0.0), (a, t) => a + t.getField("t")).as("pred"))
      val err = pred.select(col("doc_id"), (col("pred") - col("y")).as("err"))
      val grad = x.join(err, "doc_id").crossJoin(n)
        .groupBy(col("bucket"))
        .agg(d2d(sum((lit(2.0) * col("err") * col("x") / col("n"))
          .cast("decimal(32,18)"))).as("g"))
      w = w.join(grad, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("wgt") - lit(lr) * coalesce(col("g"), lit(0.0))).as("wgt"))
        .repartition(col("bucket"))
    }
    w.orderBy(col("bucket"))
  }

  /** Single-round BPE pair statistics — the oracle-gated anchor for the
    * trainer below: vocabulary (distinct word → corpus frequency, ONE
    * corpus explode/groupBy — after this everything operates on the bounded
    * vocab, never the corpus) → adjacent char-pair counts weighted by word
    * frequency → top 30 (count desc, pair asc). This is exactly the pair
    * count BPE round 1 maximizes. */
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)
      .orderBy(col("cnt").desc, col("pair"))
  }

  /** BPE merge-rule training (6 rounds) — the tokenizer-training step of a
    * training-data pipeline, expressed as lazy iterative plans (the same
    * driver-loop-over-lazy-plans idiom as [[LlmSimilarity.kmeans]] — no
    * collect(), no eager job at plan-build time). Round r: count adjacent
    * symbol pairs over the vocabulary weighted by word frequency, take the
    * top pair (count desc, then lexicographic — fully deterministic), and
    * apply the merge with a greedy left-to-right `aggregate` fold over each
    * word's symbol array (the standard BPE merge order; `try_element_at`
    * keeps the fold ANSI-safe on the empty accumulator). The 1-row top pair
    * enters both the merge fold and the output via crossJoin(broadcast) —
    * a scalar in the plan, not a driver value. Each round's vocabulary ends
    * in a LAZY `localCheckpoint(eager=false)`: nothing runs at plan-build
    * time, but on the caller's first action each round materializes once
    * and every consumer (next round's fold + this round's pair counts +
    * the merge-table union) reads the checkpoint instead of re-deriving
    * the lineage — without it the plan tree doubles per round (measured
    * 126 parquet scans and ~14 s of pure plan/codegen overhead for 6
    * rounds; with it the final plan holds a single scan — asserted in
    * Round8Spec). Checkpoint blocks are released by the harness's
    * [[graft.CacheHygiene]] between queries.
    *
    * Scale: the corpus is touched once (vocab build); every round is a fold
    * over the bounded vocabulary. Rows-only — multi-round merge recursion
    * has no reasonable SQL twin; pinned against an independent plain-Scala
    * BPE reference in Round8Spec, and round 1 is hash-anchored by
    * [[bpePairs]]. */
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    val rounds = 6
    var vocab = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"))
      .select(col("freq"), col("syms"))
      .localCheckpoint(false)
    var merges: DataFrame = null
    for (r <- 1 to rounds) {
      val pairs = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> named_struct('l', element_at(syms, i),
            |                    'r', element_at(syms, i + 1)))""".stripMargin)).as("p"))
        .select(col("freq"), col("p.l").as("l"), col("p.r").as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("freq")).cast("long").as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
      val step = top.withColumn("rank", lit(r))
      merges = if (merges == null) step else merges.unionByName(step)
      vocab = vocab.crossJoin(broadcast(top))
        .withColumn("syms", expr(
          """aggregate(syms, cast(array() as array<string>),
            |  (acc, x) -> if(try_element_at(acc, -1) = l AND x = r,
            |    concat(slice(acc, 1, size(acc) - 1), array(concat(l, r))),
            |    concat(acc, array(x))))""".stripMargin))
        .select(col("freq"), col("syms"))
        .localCheckpoint(false)
    }
    merges
      .select(col("rank"), col("l"), col("r"),
        concat(col("l"), col("r")).as("merged"), col("cnt"))
      .orderBy(col("rank"))
  }

  /** The frozen BPE merge table [[bpeEncode]] applies, in rank order. Each
    * rule's left/right part is a single char or the output of a STRICTLY
    * earlier rule — the invariant real BPE training guarantees, and the
    * one that makes "apply each rule once, exhaustively, in rank order"
    * equivalent to the canonical lowest-rank-first encode loop. */
  private[ops] val frozenMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r",
    "a" -> "t", "o" -> "r", "s" -> "t", "a" -> "n")

  /** BPE ENCODE — apply a frozen merge table to the corpus: the production
    * tokenizer step the [[bpeMerges]] training half presupposes (a 100 TB
    * pipeline trains once, encodes daily). Greedy left-to-right merge of
    * each rule is expressed as plain string algebra instead of a fold:
    * every symbol is wrapped as `<sym>`, and rule (l, r) is
    * `replace('<l><r>' -> '<lr>')`. The wrapper brackets (absent from the
    * a-z corpus) make symbol boundaries explicit, so a match can't start
    * mid-symbol, and `replace`'s left-to-right non-overlapping scan IS the
    * greedy BPE merge order. Whole-stage-codegen'd string ops, map-only,
    * zero shuffle; per-doc outputs are the encoded-stream md5, symbol
    * counts, and the compression ratio the tokenizer exists to improve.
    * Round9Spec pins the encode against an independent plain-Scala BPE
    * reference loop. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val enc = frozenMerges.foldLeft("regexp_replace(w, '(.)', '<$1>')") {
      case (acc, (l, r)) => s"replace($acc, '<$l><$r>', '<$l$r>')"
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"),
        expr(s"transform(ws, w -> $enc)").as("encs"),
        expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("n_chars"),
        size(col("ws")).cast("long").as("n_words"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_chars"),
        expr("""aggregate(encs, 0L,
          |  (a, e) -> a + length(e) - length(replace(e, '<', '')))"""
          .stripMargin).as("n_symbols"),
        md5(concat_ws("|", col("encs"))).as("enc_md5"))
      .withColumn("chars_per_symbol",
        round(col("n_chars").cast("double") / col("n_symbols"), 6))
      .orderBy(col("doc_id"))
  }

  /** Readability scoring (Flesch-Kincaid family) — the grade-level /
    * reading-ease columns a curriculum or audience filter sorts on,
    * computed from three integer-exact counts: whitespace words, sentence
    * terminator groups ([.!?]+), and vowel groups ([aeiouy]+, the
    * classic syllable approximation). The two rate divisions run on
    * identical BIGINTs and the linear formulas combine them in one fixed
    * expression order, so the doubles agree bit-exactly across engines —
    * no transcendentals anywhere. English docs only (the formula's
    * domain). Map-only scan; the counts are codegen'd regexes. */
  def readability(s: SparkSession, d: String): DataFrame = {
    val words = greatest(lit(1L),
      size(tokens(col("text"))).cast("long"))
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val vg = greatest(lit(1L),
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long"))
    Tables.documents(s, d)
      .filter(col("lang") === "en")
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        vg.as("n_vowel_groups"))
      .withColumn("wps", col("n_words").cast("double") /
        col("n_sentences").cast("double"))
      .withColumn("spw", col("n_vowel_groups").cast("double") /
        col("n_words").cast("double"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_vowel_groups"),
        (lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59))
          .as("fk_grade"),
        (lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
          .as("reading_ease"))
      .orderBy(col("doc_id"))
  }

  /** BM25 ranked retrieval (Okapi, k1=1.2 b=0.75) — the lexical-search
    * scoring the [[tfidf]] weights feed in a real engine, run for a fixed
    * 3-term query over the English corpus: per-(doc, term) tf from a
    * postings explode FILTERED to the query terms before the aggregate
    * (so the shuffle carries only matching postings), document length
    * normalization against the broadcast corpus avgdl, and the classic
    * saturating tf quotient. The ln(idf) is the one transcendental —
    * absorbed by the repo's round(6) convention; per-term partial scores
    * combine in a FIXED 3-term expression order (each term contributes at
    * most one row, so no float fold ambiguity), and the top-10 ranks on
    * the rounded score with doc_id tie-break. Scale: postings explode is
    * linear, df/avgdl broadcast, one (doc) aggregate — the inverted-index
    * shape [[Joins.invertedIndexJoin]] already pins. Returns the FULL
    * per-doc score table so [[LlmSimilarity.hybridRrf]] can fuse it with
    * a dense ranking; the registered `text_bm25` query is the top-10
    * cut. */
  def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("hash", "window", "data")
    val docs = Tables.documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    val stats = broadcast(docs.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl")))
    val tf = docs.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("t"))
      .filter(col("t").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfT = tf.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(dfT), "t").crossJoin(stats)
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("sc",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    def term(t: String): Column =
      coalesce(sum(when(col("t") === t, col("sc"))), lit(0.0))
    scored.groupBy(col("doc_id"))
      .agg(round(term("hash") + term("window") + term("data"), 6).as("bm25"),
        count(lit(1)).as("n_terms_matched"))
  }

  /** Top-10 cut of [[bm25Scores]] — see that method for the full design
    * notes. The cut is a TakeOrderedAndProject (orderBy + limit — a
    * distributed per-partition top-k merge), NOT a global rank window:
    * for a common query term the scored table is the corpus, and a
    * row_number over an unpartitioned Window would sort it in one task.
    * The rank labels attach afterwards over the already-cut 10 rows. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scores(s, d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("rk").cast("int").as("rk"), col("doc_id"),
        col("n_terms_matched"), col("bm25"))
      .orderBy(col("rk"))
  }

  /** The fixed query workload for [[bm25Multi]] — a retrieval-eval batch,
    * not a single ad-hoc query. Term lists are literal and ordered, so
    * each query's score is a FIXED-order sum of per-term contributions
    * (each (doc, term) contributes exactly one row — no float fold
    * ambiguity), same exactness argument as [[bm25Scores]]. */
  private val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "window", "data"),
    2 -> Seq("sort", "merge", "join"),
    3 -> Seq("stream", "batch"))

  /** MULTI-QUERY BM25 — the batch-retrieval form that kills the global
    * rank window: scoring runs ONCE over the union of all query terms
    * (the postings explode is still filtered before the shuffle), each
    * doc's per-term sums pivot into per-query fixed-order scores, and
    * the top-10 per query comes from a row_number window PARTITIONED BY
    * q_id — at 100 TB the rank state is per-query, never corpus-global.
    * This is how retrieval eval suites (one rank column per query)
    * actually execute; the single-query [[bm25]] stays as the
    * TakeOrdered special case. */
  def bm25Multi(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allTerms = bm25Queries.flatMap(_._2).distinct
    val docs = Tables.documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    val stats = broadcast(docs.agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(col("dl")).cast("long").as("sum_dl")))
    val tf = docs.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("t"))
      .filter(col("t").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val dfT = tf.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf.join(broadcast(dfT), "t").crossJoin(stats)
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("sc",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    // one (doc) aggregate pivots every term's single contribution row
    // into columns; per-query scores are then fixed-order literal sums
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(
        allTerms.map(t => coalesce(sum(when(col("t") === t, col("sc"))),
          lit(0.0)).as(s"s_$t")).head,
        (allTerms.map(t => coalesce(sum(when(col("t") === t, col("sc"))),
          lit(0.0)).as(s"s_$t")).tail ++
          allTerms.map(t =>
            max(when(col("t") === t, 1L).otherwise(0L)).as(s"m_$t"))): _*)
    val qRows = array(bm25Queries.map { case (q, ts) =>
      struct(lit(q).as("q_id"),
        round(ts.map(t => col(s"s_$t")).reduce(_ + _), 6).as("bm25"),
        ts.map(t => col(s"m_$t")).reduce(_ + _).as("n_terms_matched"))
    }: _*)
    val wQ = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    perDoc.select(col("doc_id"), explode(qRows).as("qs"))
      .select(col("qs.q_id").as("q_id"), col("doc_id"),
        col("qs.bm25").as("bm25"),
        col("qs.n_terms_matched").as("n_terms_matched"))
      .filter(col("n_terms_matched") > 0)
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= 10)
      .select(col("q_id").cast("int").as("q_id"),
        col("rk").cast("int").as("rk"), col("doc_id"),
        col("n_terms_matched"), col("bm25"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Code-vs-prose detection — the "route code to the code pipeline"
    * classifier in LLM data prep (distinct from [[quality]]'s prose
    * heuristics): density of code-ish symbols ({}();=<>), digit density,
    * and an integer cross-multiply flag at ≥ 3% symbol share. All counts
    * are codegen'd regex extractions over one scan; the two ratios divide
    * identical BIGINTs — exact unrounded gate, map-only plan. */
  def codeFilter(s: SparkSession, d: String): DataFrame = {
    val sym = size(regexp_extract_all(col("text"), lit("[{}();=<>]"), lit(0)))
      .cast("long")
    val dig = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
      .cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), sym.as("n_symbols"),
        dig.as("n_digits"))
      .select(col("doc_id"), col("n_chars"), col("n_symbols"), col("n_digits"),
        (col("n_symbols").cast("double") / col("n_chars").cast("double"))
          .as("symbol_ratio"),
        (col("n_digits").cast("double") / col("n_chars").cast("double"))
          .as("digit_ratio"),
        when(col("n_symbols") * 100L >= col("n_chars") * 3L, 1)
          .otherwise(0).cast("int").as("is_code"))
      .orderBy(col("doc_id"))
  }

  /** HYBRID retrieval via Reciprocal Rank Fusion — the modern two-tower
    * search stack in one plan: the LEXICAL arm ranks docs by
    * [[bm25Scores]], the DENSE arm ranks embeddings by dot product
    * against a fixed query vector (vec_id 0; the fixture aligns vec_id ↔
    * doc_id), and RRF fuses them with Σ 1/(60 + rank) over each arm's
    * top-50 — rank-based fusion needs no score calibration, which is why
    * production search uses it. The two reciprocal terms are divisions of
    * identical ints summed in fixed order — exact. Each arm's top-50 is
    * cut by orderBy + limit (TakeOrderedAndProject — a distributed
    * per-partition top-k merge) BEFORE any rank window exists, so every
    * row_number in the plan runs over a constant-bounded table (≤50 per
    * arm, ≤100 fused) — no window ever sees the corpus, even for a
    * common query term. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Scores(s, d)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(50)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("lex_rank"))
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val dense = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score",
        graft.functions.GraftFunctions.dot(col("embedding"), col("q_emb")))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(50)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("score").desc, col("vec_id"))))
      .select(col("vec_id").as("id"), col("dense_rank"))
    lex.join(dense, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
      .orderBy(col("rrf").desc, col("id"))
      .limit(10)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rrf").desc, col("id"))))
      .select(col("rk").cast("int").as("rk"), col("id"),
        col("lex_rank").cast("long").as("lex_rank"),
        col("dense_rank").cast("long").as("dense_rank"), col("rrf"))
      .orderBy(col("rk"))
  }

  /** Language-ID EVALUATION — the confusion matrix + accuracy readout for
    * [[langId]] against the fixture's ground-truth lang column (the same
    * closed-loop eval pattern as [[LlmSimilarity.centroidEval]]): which
    * languages the stopword heuristic confuses, and the overall hit rate
    * (zh/th have no Latin stopword lists, so they appear as the
    * classifier's known blind spot rather than being silently dropped).
    * One aggregate over the classifier's map-only output; accuracy
    * divides identical BIGINTs. */
  def langIdEval(s: SparkSession, d: String): DataFrame = {
    val cm = langId(s, d)
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
    val acc = cm.agg(
      (coalesce(sum(when(col("lang") === col("predicted"), col("n"))),
        lit(0L)).cast("double") / sum(col("n")).cast("double"))
        .as("accuracy"))
    cm.crossJoin(broadcast(acc))
      .select(col("lang"), col("predicted"), col("n"), col("accuracy"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** PHRASE search over a POSITIONAL inverted index — the capability that
    * separates a search engine from bag-of-words retrieval: postings
    * carry (term, doc, position), and the phrase "big data" matches where
    * the two terms' positions are ADJACENT — one equi-join on
    * (doc, pos+1), never a rescan of the text. Emits per-doc phrase
    * occurrence counts and the first match position. Scale: the postings
    * explode is linear; the adjacency join keys on (doc_id, pos) so
    * phrase matching is a hash join, and multi-term phrases chain one
    * join per extra term. Integer-only. */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val a = postings.filter(col("term") === "big")
      .select(col("doc_id"), col("pos"))
    val b = postings.filter(col("term") === "data")
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary GROWTH curve (Heaps' law empirics) — the corpus-
    * linguistics table behind "how fast does the vocab saturate as the
    * corpus grows": docs stream in id order in buckets of 50, each
    * bucket reports its token volume and how many word types appear for
    * the FIRST time there (type → min first doc, one aggregate — no
    * quadratic rescan of growing prefixes), plus cumulative tokens /
    * types and the type-token ratio. The bucket grid is corpus-linear,
    * so the cumulatives are bucket-localized (super-bucket bases +
    * partitioned inner windows) — no single-task window reads an input
    * that grows with the corpus. Integer-exact throughout; the one
    * ratio divides identical BIGINTs. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tokensPerBucket = postings
      .groupBy(expr("doc_id div 50").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = postings.groupBy(col("term"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr("first_doc div 50").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    // The bucket grid is |docs|/50 rows — corpus-linear — so the
    // cumulative runs bucket-localized like every other grid cumsum:
    // 1024-bucket super-buckets get base sums from an unpartitioned
    // window over the |docs|/51200-row super-bucket table (knob-shrunk),
    // and the per-bucket cumsum partitions on the super-bucket, adding
    // the broadcast base. Identical longs to the single-window form.
    val grid = tokensPerBucket.join(newTypes, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("sb", floor(col("bucket") / 1024.0).cast("long"))
    val wSb = Window.orderBy(col("sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = grid.groupBy(col("sb"))
      .agg(sum(col("n_tokens")).as("bt"), sum(col("n_new_types")).as("by"))
      .withColumn("base_tok", coalesce(sum(col("bt")).over(wSb), lit(0L)))
      .withColumn("base_typ", coalesce(sum(col("by")).over(wSb), lit(0L)))
      .select(col("sb"), col("base_tok"), col("base_typ"))
    val wIn = Window.partitionBy(col("sb")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(broadcast(base), Seq("sb"))
      .withColumn("cum_tokens",
        (col("base_tok") + sum(col("n_tokens")).over(wIn)).cast("long"))
      .withColumn("cum_types",
        (col("base_typ") + sum(col("n_new_types")).over(wIn)).cast("long"))
      .withColumn("type_token_ratio",
        col("cum_types").cast("double") / col("cum_tokens").cast("double"))
      .select(col("bucket"), col("n_tokens"), col("n_new_types"),
        col("cum_tokens"), col("cum_types"), col("type_token_ratio"))
      .orderBy(col("bucket"))
  }

  private val sqlToks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
  private def sqlHits(words: Seq[String]): String =
    s"len(list_filter($sqlToks, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"

  /** DuckDB twin of [[bpeEncode]]'s per-word encode expression. */
  private val sqlBpeEnc: String =
    frozenMerges.foldLeft("regexp_replace(w, '(.)', '<\\1>', 'g')") {
      case (acc, (l, r)) => s"replace($acc, '<$l><$r>', '<$l$r>')"
    }

  override def catalog: Seq[Query] = Seq(
    Query("text_vocab_growth", vocabGrowth, Some(
      s"""WITH postings AS (
         |  SELECT doc_id, unnest($sqlToks) AS term FROM documents),
         |tb AS (SELECT doc_id // 50 AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens FROM postings GROUP BY 1),
         |nt AS (
         |  SELECT first_doc // 50 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n_new_types
         |  FROM (SELECT term, MIN(doc_id) AS first_doc FROM postings
         |        GROUP BY term)
         |  GROUP BY 1),
         |g AS (
         |  SELECT COALESCE(tb.bucket, nt.bucket) AS bucket,
         |    COALESCE(n_tokens, 0) AS n_tokens,
         |    COALESCE(n_new_types, 0) AS n_new_types
         |  FROM tb FULL OUTER JOIN nt ON tb.bucket = nt.bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_tokens, n_new_types,
         |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
         |  CAST(SUM(n_new_types) OVER w AS BIGINT) AS cum_types,
         |  CAST(SUM(n_new_types) OVER w AS DOUBLE) /
         |    CAST(SUM(n_tokens) OVER w AS DOUBLE) AS type_token_ratio
         |FROM g
         |WINDOW w AS (ORDER BY bucket
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY bucket""".stripMargin)),
    // Independent derivation: direct windowed list scan instead of the
    // positional-postings self-join.
    Query("text_phrase_search", phraseSearch, Some(
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(generate_series(1, len($sqlToks) - 1),
         |      i -> ($sqlToks)[CAST(i AS INT)] = 'big'
         |       AND ($sqlToks)[CAST(i AS INT) + 1] = 'data') AS hits
         |  FROM documents)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
         |  CAST(hits[1] - 1 AS BIGINT) AS first_pos
         |FROM t WHERE len(hits) > 0 ORDER BY doc_id""".stripMargin)),
    // RRF terms CAST to DOUBLE explicitly — DuckDB's bare 1.0 literal is
    // DECIMAL and decimal division would diverge from Spark's double.
    Query("sim_hybrid_rrf", hybridRrf, Some(
      s"""WITH dd AS (
         |  SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS dl,
         |    $sqlToks AS toks
         |  FROM documents WHERE lang = 'en'),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
         |tf AS (
         |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM dd)
         |  WHERE t IN ('hash', 'window', 'data')
         |  GROUP BY 1, 2, 3),
         |dft AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, tf.t,
         |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
         |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS sc
         |  FROM tf JOIN dft USING (t) CROSS JOIN st),
         |pd AS (
         |  SELECT doc_id,
         |    round(COALESCE(SUM(CASE WHEN t = 'hash' THEN sc END), 0.0) +
         |          COALESCE(SUM(CASE WHEN t = 'window' THEN sc END), 0.0) +
         |          COALESCE(SUM(CASE WHEN t = 'data' THEN sc END), 0.0), 6)
         |      AS bm25
         |  FROM sc GROUP BY 1),
         |lex AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
         |  FROM pd WHERE doc_id <> 0 QUALIFY lex_rank <= 50),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |dense AS (
         |  SELECT id, dense_rank FROM (
         |    SELECT vec_id AS id,
         |      row_number() OVER (ORDER BY score DESC, vec_id) AS dense_rank
         |    FROM (
         |      SELECT vec_id,
         |        list_reduce(list_transform(
         |          generate_series(1, len(embedding)), i ->
         |            CAST(embedding[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE)),
         |          (acc, x) -> acc + x) AS score
         |      FROM embeddings CROSS JOIN q WHERE vec_id <> 0))
         |  WHERE dense_rank <= 50),
         |f AS (
         |  SELECT COALESCE(lex.id, dense.id) AS id, lex_rank, dense_rank,
         |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0.0) +
         |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + dense_rank), 0.0) AS rrf
         |  FROM lex FULL OUTER JOIN dense ON lex.id = dense.id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INT)
         |    AS rk,
         |  id, CAST(lex_rank AS BIGINT) AS lex_rank,
         |  CAST(dense_rank AS BIGINT) AS dense_rank, rrf
         |FROM f QUALIFY rk <= 10 ORDER BY rk""".stripMargin)),
    Query("text_code_filter", codeFilter, Some(
      """WITH c AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT)
        |      AS n_symbols,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
        |      AS n_digits
        |  FROM documents)
        |SELECT doc_id, n_chars, n_symbols, n_digits,
        |  CAST(n_symbols AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |    AS symbol_ratio,
        |  CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) AS digit_ratio,
        |  CAST(CASE WHEN n_symbols * 100 >= n_chars * 3 THEN 1 ELSE 0 END
        |    AS INT) AS is_code
        |FROM c ORDER BY doc_id""".stripMargin)),
    Query("text_bm25", bm25, Some(
      s"""WITH dd AS (
         |  SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS dl,
         |    $sqlToks AS toks
         |  FROM documents WHERE lang = 'en'),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
         |tf AS (
         |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM dd)
         |  WHERE t IN ('hash', 'window', 'data')
         |  GROUP BY 1, 2, 3),
         |dft AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, tf.t,
         |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
         |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS sc
         |  FROM tf JOIN dft USING (t) CROSS JOIN st),
         |pd AS (
         |  SELECT doc_id,
         |    round(COALESCE(SUM(CASE WHEN t = 'hash' THEN sc END), 0.0) +
         |          COALESCE(SUM(CASE WHEN t = 'window' THEN sc END), 0.0) +
         |          COALESCE(SUM(CASE WHEN t = 'data' THEN sc END), 0.0), 6)
         |      AS bm25,
         |    CAST(COUNT(*) AS BIGINT) AS n_terms_matched
         |  FROM sc GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
         |    AS rk,
         |  doc_id, n_terms_matched, bm25
         |FROM pd QUALIFY rk <= 10 ORDER BY rk""".stripMargin)),
    Query("text_bm25_multi", bm25Multi, Some(
      s"""WITH dd AS (
         |  SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS dl,
         |    $sqlToks AS toks
         |  FROM documents WHERE lang = 'en'),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
         |tf AS (
         |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM dd)
         |  WHERE t IN ('hash', 'window', 'data', 'sort', 'merge', 'join',
         |    'stream', 'batch')
         |  GROUP BY 1, 2, 3),
         |dft AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tf GROUP BY 1),
         |sc AS (
         |  SELECT tf.doc_id, tf.t,
         |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
         |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl /
         |        (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS sc
         |  FROM tf JOIN dft USING (t) CROSS JOIN st),
         |pd AS (
         |  SELECT doc_id,
         |    COALESCE(SUM(CASE WHEN t = 'hash' THEN sc END), 0.0) AS s_hash,
         |    COALESCE(SUM(CASE WHEN t = 'window' THEN sc END), 0.0)
         |      AS s_window,
         |    COALESCE(SUM(CASE WHEN t = 'data' THEN sc END), 0.0) AS s_data,
         |    COALESCE(SUM(CASE WHEN t = 'sort' THEN sc END), 0.0) AS s_sort,
         |    COALESCE(SUM(CASE WHEN t = 'merge' THEN sc END), 0.0) AS s_merge,
         |    COALESCE(SUM(CASE WHEN t = 'join' THEN sc END), 0.0) AS s_join,
         |    COALESCE(SUM(CASE WHEN t = 'stream' THEN sc END), 0.0)
         |      AS s_stream,
         |    COALESCE(SUM(CASE WHEN t = 'batch' THEN sc END), 0.0) AS s_batch,
         |    CAST(MAX(CASE WHEN t = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_hash,
         |    CAST(MAX(CASE WHEN t = 'window' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_window,
         |    CAST(MAX(CASE WHEN t = 'data' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_data,
         |    CAST(MAX(CASE WHEN t = 'sort' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_sort,
         |    CAST(MAX(CASE WHEN t = 'merge' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_merge,
         |    CAST(MAX(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_join,
         |    CAST(MAX(CASE WHEN t = 'stream' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_stream,
         |    CAST(MAX(CASE WHEN t = 'batch' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m_batch
         |  FROM sc GROUP BY 1),
         |q AS (
         |  SELECT 1 AS q_id, doc_id,
         |    round(s_hash + s_window + s_data, 6) AS bm25,
         |    m_hash + m_window + m_data AS n_terms_matched FROM pd
         |  UNION ALL
         |  SELECT 2 AS q_id, doc_id,
         |    round(s_sort + s_merge + s_join, 6) AS bm25,
         |    m_sort + m_merge + m_join AS n_terms_matched FROM pd
         |  UNION ALL
         |  SELECT 3 AS q_id, doc_id,
         |    round(s_stream + s_batch, 6) AS bm25,
         |    m_stream + m_batch AS n_terms_matched FROM pd)
         |SELECT CAST(q_id AS INT) AS q_id,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY bm25 DESC, doc_id) AS INT) AS rk,
         |  doc_id, n_terms_matched, bm25
         |FROM q WHERE n_terms_matched > 0
         |QUALIFY rk <= 10 ORDER BY q_id, rk""".stripMargin)),
    Query("text_readability", readability, Some(
      """WITH c AS (
        |  SELECT doc_id,
        |    greatest(CAST(1 AS BIGINT), CAST(len(list_filter(
        |      regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
        |      AS BIGINT)) AS n_words,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |      AS n_sentences,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT)) AS n_vowel_groups
        |  FROM documents WHERE lang = 'en')
        |SELECT doc_id, n_words, n_sentences, n_vowel_groups,
        |  0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) +
        |    11.8 * (CAST(n_vowel_groups AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59 AS fk_grade,
        |  206.835 - 1.015 *
        |    (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
        |    84.6 * (CAST(n_vowel_groups AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    AS reading_ease
        |FROM c ORDER BY doc_id""".stripMargin)),
    Query("text_bpe_encode", bpeEncode, Some(
      s"""WITH t AS (
         |  SELECT doc_id, lang, $sqlToks AS ws FROM documents),
         |e AS (
         |  SELECT doc_id, lang,
         |    list_transform(ws, w -> $sqlBpeEnc) AS encs,
         |    CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
         |      AS n_chars,
         |    CAST(len(ws) AS BIGINT) AS n_words
         |  FROM t)
         |SELECT doc_id, lang, n_words, n_chars,
         |  CAST(list_sum(list_transform(encs,
         |    e -> length(e) - length(replace(e, '<', '')))) AS BIGINT)
         |    AS n_symbols,
         |  md5(array_to_string(encs, '|')) AS enc_md5,
         |  round(CAST(n_chars AS DOUBLE) / CAST(list_sum(list_transform(encs,
         |    e -> length(e) - length(replace(e, '<', '')))) AS DOUBLE), 6)
         |    AS chars_per_symbol
         |FROM e ORDER BY doc_id""".stripMargin)),
    Query("text_classifier_train", classifierTrain, None), // iterative GD
    Query("text_bpe_pairs", bpePairs, Some(
      s"""WITH vocab AS (
         |  SELECT w, COUNT(*) AS freq FROM (
         |    SELECT unnest($sqlToks) AS w FROM documents) t
         |  WHERE length(w) >= 2 GROUP BY w),
         |pairs AS (
         |  SELECT freq, unnest(list_transform(generate_series(1, length(w) - 1),
         |    i -> substr(w, i, 2))) AS pair FROM vocab)
         |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
         |FROM pairs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin)),
    Query("text_bpe_merges", bpeMerges, None), // merge recursion
    Query("text_lm_score", lmScore, Some(
      """WITH norm AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(lower(text), '[^a-z ]', '', 'g'),
        |      ' +', ' ', 'g') AS ntext
        |  FROM documents),
        |norm2 AS (SELECT * FROM norm WHERE length(ntext) >= 2),
        |bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, length(ntext) - 1),
        |      i -> substr(ntext, i, 2))) AS bg
        |  FROM norm2),
        |counts AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY bg),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM counts),
        |lm AS (SELECT bg,
        |    ln(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)) AS logp
        |  FROM counts CROSS JOIN tot),
        |docbg AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS dc
        |  FROM bi GROUP BY doc_id, bg)
        |SELECT d.doc_id, CAST(SUM(d.dc) AS BIGINT) AS n_bigrams,
        |  round(CAST(CAST(SUM(CAST(CAST(d.dc AS DOUBLE) * l.logp
        |        AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
        |    / CAST(SUM(d.dc) AS DOUBLE), 6) AS avg_logp
        |FROM docbg d JOIN lm l ON d.bg = l.bg
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    Query("text_char_entropy", charEntropy, Some(
      """WITH counts AS (
        |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id,
        |          unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
        |        FROM documents)
        |  GROUP BY doc_id, ch),
        |tot AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_letters,
        |    COUNT(*) AS n_distinct_letters
        |  FROM counts GROUP BY doc_id)
        |SELECT c.doc_id, t.n_letters, t.n_distinct_letters,
        |  MAX(c.c) AS max_char_count,
        |  round(list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE),
        |      list((CAST(c.c AS DOUBLE) / CAST(t.n_letters AS DOUBLE))
        |        * ln(CAST(t.n_letters AS DOUBLE) / CAST(c.c AS DOUBLE))
        |        ORDER BY c.ch)),
        |    (a, x) -> a + x), 6) AS entropy_nats
        |FROM counts c JOIN tot t ON c.doc_id = t.doc_id
        |GROUP BY c.doc_id, t.n_letters, t.n_distinct_letters
        |ORDER BY c.doc_id""".stripMargin)),
    Query("text_quality_classifier", qualityClassifier, Some(
      s"""WITH toks AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 16 AS bucket
         |  FROM (SELECT doc_id, unnest($sqlToks) AS tok FROM documents) t),
         |db AS (SELECT doc_id, bucket, COUNT(*) AS c FROM toks GROUP BY 1, 2),
         |nt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM db GROUP BY 1),
         |sc AS (SELECT db.doc_id, list_reduce(list_prepend(0.0, list(
         |    CAST(c AS DOUBLE) * (CAST((CAST(('0x' || substring(md5('qw:' ||
         |      CAST(bucket AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000
         |      AS DOUBLE) / 1000.0)
         |    ORDER BY bucket)), (a, x) -> a + x) AS raw
         |  FROM db GROUP BY db.doc_id)
         |SELECT sc.doc_id, (raw / CAST(n AS DOUBLE)) AS score
         |FROM sc JOIN nt USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin)),
    Query("pipeline_prep", prepPipeline, Some(
      s"""WITH kept AS (
         |  SELECT doc_id, lang, source, text, len($sqlToks) AS n_tokens
         |  FROM documents
         |  WHERE len($sqlToks) >= 5
         |    AND CAST(length(text) AS DOUBLE) / len($sqlToks) < 12),
         |reps AS (
         |  SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text))
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  MIN(k.doc_id) AS first_doc
         |FROM kept k JOIN reps r ON k.doc_id = r.doc_id
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),
    Query("text_tfidf", tfidf, Some(
      s"""WITH terms AS (
         |  SELECT doc_id, token, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest($sqlToks) AS token FROM documents) u
         |  GROUP BY doc_id, token),
         |dfreq AS (
         |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY token),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
         |SELECT doc_id, rk, token, tf, df, score FROM (
         |  SELECT t.doc_id, t.token, t.tf, d.df,
         |    t.tf * (n.n_docs / d.df) AS score,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY t.tf * (n.n_docs / d.df) DESC, t.token) AS rk
         |  FROM terms t JOIN dfreq d ON t.token = d.token CROSS JOIN n) x
         |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin)),
    Query("text_normalize", normalize, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    '  **' || upper(substring(text, 1, 16)) || '**' || chr(9) ||
        |    text || '  ' || chr(10) AS raw
        |  FROM documents)
        |SELECT doc_id, length(raw) AS n_chars_raw,
        |  trim(regexp_replace(regexp_replace(lower(raw), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS norm_text,
        |  length(trim(regexp_replace(regexp_replace(lower(raw), '[^a-z0-9\s]', ' ', 'g'),
        |    '\s+', ' ', 'g'))) AS n_chars_norm
        |FROM t ORDER BY doc_id""".stripMargin)),
    Query("text_winnow_fp", winnowFingerprint, None), // rolling hash
    Query("text_langid_eval", langIdEval, Some(
      s"""WITH p AS (
         |  SELECT lang,
         |    CASE
         |      WHEN ${sqlHits(stopwords("en"))} >= ${sqlHits(stopwords("es"))}
         |       AND ${sqlHits(stopwords("en"))} >= ${sqlHits(stopwords("fr"))}
         |       AND ${sqlHits(stopwords("en"))} >= ${sqlHits(stopwords("de"))} THEN 'en'
         |      WHEN ${sqlHits(stopwords("es"))} >= ${sqlHits(stopwords("fr"))}
         |       AND ${sqlHits(stopwords("es"))} >= ${sqlHits(stopwords("de"))} THEN 'es'
         |      WHEN ${sqlHits(stopwords("fr"))} >= ${sqlHits(stopwords("de"))} THEN 'fr'
         |      ELSE 'de' END AS predicted
         |  FROM documents),
         |cm AS (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |acc AS (SELECT
         |  CAST(COALESCE(SUM(CASE WHEN lang = predicted THEN n END), 0)
         |    AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS accuracy FROM cm)
         |SELECT lang, predicted, n, accuracy FROM cm CROSS JOIN acc
         |ORDER BY lang, predicted""".stripMargin)),
    Query("text_lang_id", langId, Some(
      s"""SELECT doc_id, lang,
         |  ${sqlHits(stopwords("en"))} AS s_en, ${sqlHits(stopwords("es"))} AS s_es,
         |  ${sqlHits(stopwords("fr"))} AS s_fr, ${sqlHits(stopwords("de"))} AS s_de,
         |  CASE
         |    WHEN ${sqlHits(stopwords("en"))} >= ${sqlHits(stopwords("es"))}
         |     AND ${sqlHits(stopwords("en"))} >= ${sqlHits(stopwords("fr"))}
         |     AND ${sqlHits(stopwords("en"))} >= ${sqlHits(stopwords("de"))} THEN 'en'
         |    WHEN ${sqlHits(stopwords("es"))} >= ${sqlHits(stopwords("fr"))}
         |     AND ${sqlHits(stopwords("es"))} >= ${sqlHits(stopwords("de"))} THEN 'es'
         |    WHEN ${sqlHits(stopwords("fr"))} >= ${sqlHits(stopwords("de"))} THEN 'fr'
         |    ELSE 'de' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_quality", quality, Some(
      s"""SELECT doc_id, length(text) AS n_chars, len($sqlToks) AS n_tokens,
         |  CAST(length(text) AS DOUBLE) / len($sqlToks) AS chars_per_token,
         |  CAST(len(list_filter($sqlToks, w -> length(w) >= 6)) AS DOUBLE)
         |    / len($sqlToks) AS long_token_ratio,
         |  CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
         |    / length(text) AS punct_ratio,
         |  CAST(${sqlHits(stopwords("en"))} AS DOUBLE) / len($sqlToks) AS stopword_ratio,
         |  CAST(len($sqlToks) >= 5 AND CAST(length(text) AS DOUBLE) / len($sqlToks) < 12
         |    AS INT) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_token_counts", tokenCounts, Some(
      s"""SELECT doc_id, len($sqlToks) AS n_ws_tokens,
         |  len(list_distinct($sqlToks)) AS n_distinct_tokens,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_pieces
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_pmi_collocations", pmiCollocations, Some(
      s"""WITH docs AS MATERIALIZED (SELECT $sqlToks AS toks FROM documents),
         |bg AS MATERIALIZED (
         |  SELECT UNNEST(toks[1:len(toks)-1]) AS a,
         |    UNNEST(toks[2:len(toks)]) AS b
         |  FROM docs),
         |uni AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM (
         |    SELECT UNNEST(toks) AS w FROM docs) GROUP BY 1),
         |pairs AS MATERIALIZED (
         |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
         |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM uni),
         |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bg)
         |SELECT p.a, p.b, p.c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
         |  CAST(p.c_ab AS DOUBLE) * CAST(t.n AS DOUBLE) *
         |    CAST(t.n AS DOUBLE) /
         |    (CAST(mt.m AS DOUBLE) * CAST(ua.c_w AS DOUBLE) *
         |     CAST(ub.c_w AS DOUBLE)) AS lift
         |FROM pairs p
         |JOIN uni ua ON ua.w = p.a
         |JOIN uni ub ON ub.w = p.b
         |CROSS JOIN tot t CROSS JOIN mt
         |ORDER BY lift DESC, p.a ASC, p.b ASC LIMIT 30""".stripMargin)),
    Query("text_compress_ratio", compressRatio, None), // zlib bytes
    Query("text_word_freq", wordFreq, Some(
      s"""SELECT token, COUNT(*) AS n FROM (
         |  SELECT unnest($sqlToks) AS token FROM documents) t
         |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin)),
    Query("text_fingerprint", fingerprint, Some(
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp_md5,
         |  CAST(('0x' || substring(md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')), 1, 8)) AS BIGINT) AS fp32
         |FROM documents ORDER BY doc_id""".stripMargin)),
  )
}
