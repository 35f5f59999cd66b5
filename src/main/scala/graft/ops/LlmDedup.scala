package graft.ops

import graft.{Query, QueryModule, Scratch, Tables}
import graft.ops.Corpus.tokens
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.11):
  * exact, MinHash signatures + banded LSH candidate pairs, SimHash,
  * n-gram Jaccard.
  *
  * Scale posture: exact dedup and signatures are map + one groupBy
  * (shuffle = |distinct hashes|). The MinHash LSH pair search never forms
  * the quadratic pair space: it explodes b band-signatures per doc (linear),
  * groups by band bucket, and only joins within buckets — the standard
  * sub-quadratic near-dup plan that carries to 100 TB. N-gram Jaccard is
  * blocked by (lang, source) so its pair space is per-bucket-quadratic only
  * (a blocking key would be the scale knob in production). */
object LlmDedup extends QueryModule {

  /** Word 3-gram shingles (distinct) of a token-array column. Pass a
    * projected column, not the tokenizer expression: higher-order-function
    * lambdas run interpreted, outside subexpression elimination, so an
    * expression inside one is re-evaluated for every element. */
  private def shingles(t: Column): Column =
    array_distinct(transform(sequence(lit(1), size(t) - 2),
      i => concat_ws("_", element_at(t, i), element_at(t, i + 1),
        element_at(t, i + 2))))

  /** 16 md5 MinHash values `mh0..mh15` over the projected shingle column
    * `sh`. */
  private def minhash16: Seq[Column] = (0 until 16).map { i =>
    array_min(transform(col("sh"), x => md5hash32(x, i))).as(s"mh$i")
  }

  /** Portable 32-bit hash (shared with DuckDB): first 8 hex digits of md5,
    * with a seed namespace. Used by the oracle-gated minhash/simhash; the
    * scale path uses xxhash64 (cheaper, Spark-only). */
  private def md5hash32(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), c)), 1, 8), 16, 10).cast("long")

  /** Exact dedup: canonical content hash → representative (min doc_id) and
    * multiplicity. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  /** Policy-pluggable dedup representative: keep the HIGHEST-QUALITY copy
    * of each duplicate group instead of the arbitrary min-id ([[exact]]'s
    * policy) — the curation rule real pipelines want ("when a doc appears
    * on three domains, keep the longest/cleanest capture"). Quality here
    * is (token count desc, then min doc_id) — any scoring column drops in
    * without changing the plan: one window over the content-hash
    * partition, same single shuffle as keep-min. Every group is emitted
    * (small fixtures may contain no duplicates at all); n_copies > 1
    * marks the groups where the policy made a real choice, and
    * min_id_policy_doc shows the decision delta vs keep-min. */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_md5"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("content_md5"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("content_md5"))
      .agg(count(lit(1)).as("n_copies"),
        min(when(col("rn") === 1, col("doc_id"))).as("keep_doc_id"),
        min(when(col("rn") === 1, col("n_tokens"))).as("keep_tokens"),
        min(col("doc_id")).as("min_id_policy_doc"))
      .orderBy(col("content_md5"))
  }

  /** MinHash signatures (16 md5-based hash functions over 3-gram shingles)
    * + 4 banded LSH keys of 4 rows each — the per-doc map-only stage of
    * near-dup detection, fully oracle-checkable. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    // tokens and shingles are projected as columns so the 16 hash lambdas
    // read them instead of re-evaluating them (see shingles)
    val withSig = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingles(col("t")).as("sh"))
      .select(col("doc_id") +: minhash16: _*)
    val bands = (0 until 4).map { b =>
      md5(concat_ws(",", (0 until 4).map(r => col(s"mh${b * 4 + r}")): _*))
        .as(s"band$b")
    }
    withSig.select(col("doc_id"),
      md5(concat_ws(",", (0 until 16).map(i => col(s"mh$i")): _*)).as("sig_md5"),
      bands(0), bands(1), bands(2), bands(3))
      .orderBy(col("doc_id"))
  }

  /** LSH-verified near-dup pairs: explode 16 bands of 2 of a 32-hash
    * MinHash signature (S-curve threshold (1/16)^(1/2) = 0.25 — pairs with
    * Jaccard ≥ 0.4 are caught with probability > 0.99), bucket-join within
    * bands, then verify every candidate with exact shingle Jaccard. The
    * quadratic pair space is never formed: explode is linear, the join is
    * per-bucket, and verification touches candidates only. */
  private[graft] def lshVerifiedPairs(s: SparkSession, d: String): DataFrame = {
    // Whole tokenize→shingle→hash pipeline runs as ONE per-row kernel
    // (graft_shingles3), the 32-function signature as another
    // (graft_minhash32) — interpreted per-element HOF lambdas were the
    // bottleneck here. Jaccard verification is a codegen'd linear merge
    // over the sorted hash sets.
    import graft.functions.TextFunctions._
    // Persisted for the same reason as clusterComponents' docs: the plan
    // reads `hashed` three times (banding + both verify fetches) and
    // Catalyst won't dedupe the shingling work across join branches.
    val hashed = Tables.documents(s, d)
      .select(col("doc_id"), shingles3(col("text")).as("hs"))
      .filter(size(col("hs")) >= 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Banding runs as a custom Generator (UDTF, MinHashBands): one per-row
    // loop emitting the 16 (band, sig) rows directly — no intermediate
    // band array, no interpreted per-element lambdas.
    val banded = hashed.select(col("doc_id"),
      minhash32(col("hs")).as("mh"))
      .select(col("doc_id"), minhashBands(col("mh")).as(Seq("band", "sig")))
    // Dedupe candidate PAIRS before fetching shingle sets — a pair matching
    // in k bands must verify once, not k times.
    val cand = banded.select(col("band"), col("sig"), col("doc_id").as("a_id"))
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("b_id")),
        Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val inter = graft.functions.GraftFunctions
      .sortedIntersect(col("a_hs"), col("b_hs"))
    cand
      .join(hashed.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), "a_id")
      .join(hashed.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), "b_id")
      .select(col("a_id"), col("b_id"),
        (inter.cast("double") /
         (size(col("a_hs")) + size(col("b_hs")) - inter)).as("jaccard"))
  }

  /** Top MinHash-LSH candidate pairs by verified Jaccard. Registered
    * rows-only (xxhash64 banding is not expressible as a sane single oracle
    * SQL); the md5 variant above gates the signature math, and LlmSpec
    * property-tests this pipeline. */
  def minhashCandidatePairs(s: SparkSession, d: String): DataFrame =
    lshVerifiedPairs(s, d)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(100)

  /** 32-bit SimHash over distinct tokens (md5-based bit hashes, shared with
    * the oracle): bit b set iff the sum of ±1 votes from token-hash bit b
    * is positive. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val dtoks = array_distinct(tokens(col("text")))
    val hashes = transform(dtoks, t => md5hash32(t, 99))
    // bit b of h without shift-by-column (Spark's shiftright needs a literal
    // count): floor(h / 2^b) % 2 — exact in double for h < 2^32, b ≤ 31.
    def pow2(b: Column): Column = pow(lit(2.0), b).cast("long")
    def bit(h: Column, b: Column): Column =
      (h.cast("double") / pow(lit(2.0), b)).cast("long") % 2
    val sim = aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, b) => acc + when(
        aggregate(hashes, lit(0L),
          (a, h) => a + when(bit(h, b) === 1, 1L).otherwise(-1L)) > 0,
        pow2(b)).otherwise(0L))
    Tables.documents(s, d)
      .select(col("doc_id"), sim.as("simhash32"))
      .orderBy(col("doc_id"))
  }

  /** Word-bigram Jaccard near-dup pairs, blocked by (lang, source) — the
    * BOUNDED-BLOCK VERIFIER: it reports every J > 0 pair (a dense
    * predicate no prefix/LSH filter can prune — any shared bigram
    * qualifies), so it is inherently per-block-quadratic and must only
    * ever run on bounded blocks (the blocking key is the scale knob). The
    * thresholded pipelines ([[clusterComponents]],
    * [[graft.api.DedupPipeline]]) are the sub-quadratic paths.
    *
    * Hot-loop design: bigrams are xxhash64-hashed, deduped, and sorted ONCE
    * per document (map side, before the shuffle join); the per-pair work is
    * a codegen'd linear merge over sorted longs (graft_sorted_intersect) —
    * O(|A|+|B|) with no per-pair hashing or set building. Set sizes are
    * identical to the string-set sizes barring a 64-bit hash collision
    * inside one document pair (~2⁻⁶⁴·|A|·|B| — negligible). */
  def ngramJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.TextFunctions.shingles2(col("text")).as("bg"))
      .filter(size(col("bg")) >= 1)
    val a = docs.select(col("lang"), col("source"),
      col("doc_id").as("a_id"), col("bg").as("a_bg"))
    val b = docs.select(col("lang"), col("source"),
      col("doc_id").as("b_id"), col("bg").as("b_bg"))
    val inter = graft.functions.GraftFunctions
      .sortedIntersect(col("a_bg"), col("b_bg"))
    a.join(b, Seq("lang", "source")).filter(col("a_id") < col("b_id"))
      .select(col("lang"), col("source"), col("a_id"), col("b_id"),
        (inter.cast("double") /
         (size(col("a_bg")) + size(col("b_bg")) - inter)).as("jaccard"))
      .filter(col("jaccard") > 0)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(200)
  }

  /** Near-dup THRESHOLD TUNING curve — the sweep a pipeline owner runs
    * before freezing the dedup cutoff: for each candidate Jaccard
    * threshold t ∈ {0.50, 0.55, …, 0.95}, how many candidate pairs and
    * how many distinct documents would be implicated. Reuses the exact
    * blocked bigram-Jaccard pair pipeline of [[ngramJaccardPairs]]
    * (UNtruncated), then explodes each pair across the qualifying
    * thresholds — linear in |pairs|·|grid|, never re-scanning the corpus
    * per threshold. Jaccard is a ratio of identical ints and each t is
    * k/20 evaluated the same way in both engines, so the >= cut is
    * bit-deterministic. Scale: pairs come from the bounded-block join
    * (the documented knob); the sweep itself is a 10× explode of the
    * already-reduced pair table. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.TextFunctions.shingles2(col("text")).as("bg"))
      .filter(size(col("bg")) >= 1)
    val a = docs.select(col("lang"), col("source"),
      col("doc_id").as("a_id"), col("bg").as("a_bg"))
    val b = docs.select(col("lang"), col("source"),
      col("doc_id").as("b_id"), col("bg").as("b_bg"))
    val inter = graft.functions.GraftFunctions
      .sortedIntersect(col("a_bg"), col("b_bg"))
    val pairs = a.join(b, Seq("lang", "source"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (inter.cast("double") /
          (size(col("a_bg")) + size(col("b_bg")) - inter)).as("jaccard"))
      .filter(col("jaccard") > 0)
    val swept = pairs
      .withColumn("t", explode(array((10 to 19).map(k => lit(k / 20.0)): _*)))
      .filter(col("jaccard") >= col("t"))
    val nPairs = swept.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept
      .select(col("t"), explode(array(col("a_id"), col("b_id"))).as("m"))
      .groupBy(col("t")).agg(countDistinct(col("m")).as("n_docs"))
    nPairs.join(nDocs, Seq("t"))
      .select(col("t"), col("n_pairs"), col("n_docs"))
      .orderBy(col("t"))
  }

  /** Exact set-similarity self-join via prefix + length filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08). For a Jaccard threshold t and sets sorted under ONE global
    * token order, any pair with J(A,B) ≥ t shares its globally-smallest
    * common token inside BOTH prefixes of length |X| − ⌈t·|X|⌉ + 1
    * (pigeonhole: |A∩B| ≥ t·|A|), so exploding only prefixes and bucket-
    * joining on the token finds EVERY qualifying pair — zero false
    * negatives, unlike LSH. The hashed-sorted shingle arrays double as the
    * global order. Length filter min ≥ t·max prunes before dedup; exact
    * sorted-merge Jaccard verifies after.
    *
    * Scale: explode is linear in Σ prefix sizes; the join is per-token
    * buckets, not per-block all-pairs. At production thresholds (0.7+) the
    * prefix is ~30% of each set; at the permissive t here it is ~90%, so
    * the filter is weak — correctness is unconditional either way, and the
    * probabilistic high-recall path at scale is
    * [[graft.api.DedupPipeline]].
    *
    * @param docs (doc_id, lang, source, bg: sorted distinct hashed bigrams)
    * @return qualifying (a_id, b_id) pairs, a_id < b_id, within blocks */
  private def prefixFilterEdges(docs: DataFrame, t: Double): DataFrame = {
    val sized = docs.select(col("doc_id"), col("lang"), col("source"),
      col("bg"), size(col("bg")).as("sz"))
    val prefLen = (col("sz") - ceil(col("sz") * lit(t)).cast("int") + 1)
    val pref = sized.select(col("lang"), col("source"), col("doc_id"),
      col("sz"), explode(slice(col("bg"), lit(1), prefLen)).as("tok"))
    val cand = pref
      .select(col("lang"), col("source"), col("tok"),
        col("doc_id").as("a_id"), col("sz").as("a_sz"))
      .join(pref.select(col("lang"), col("source"), col("tok"),
        col("doc_id").as("b_id"), col("sz").as("b_sz")),
        Seq("lang", "source", "tok"))
      .filter(col("a_id") < col("b_id") &&
        least(col("a_sz"), col("b_sz")).cast("double") >=
          greatest(col("a_sz"), col("b_sz")) * lit(t))
      .select(col("a_id"), col("b_id")).distinct()
    val inter = graft.functions.GraftFunctions
      .sortedIntersect(col("a_bg"), col("b_bg"))
    cand
      .join(docs.select(col("doc_id").as("a_id"), col("bg").as("a_bg")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("bg").as("b_bg")), "b_id")
      .filter(inter.cast("double") /
        (size(col("a_bg")) + size(col("b_bg")) - inter) >= t)
      .select(col("a_id"), col("b_id"))
  }

  /** Connected components by iterative min-label propagation with pointer
    * jumping — each round is one distributed join+groupBy, rounds ≤
    * O(log diameter), with a driver-side fixpoint check (the standard
    * large-graph CC loop; GraphX-free). The result is the well-defined
    * fixpoint (min reachable id per node), so a DuckDB recursive-CTE
    * oracle converges to the identical labeling.
    *
    * @param edges (a_id, b_id) pairs; vertices are the ids that appear
    * @return (doc_id, cluster_id = min reachable doc_id) */
  private[graft] def connectedComponents(edges0: DataFrame): DataFrame = {
    // Each round's localCheckpoint pins an RDD below the Dataset cache;
    // once round N is materialized, round N-1's blocks are dead (the
    // lineage is cut), so superseded rounds are released eagerly through
    // their own handle — peak cached footprint stays at one labeling (plus
    // the edge list) instead of one per round.
    val edges = edges0.localCheckpoint()   // eager: edge generation runs exactly once
    val sym = edges.unionByName(
      edges.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    // Fused round 0: labels start at min(self, neighbors) — one groupBy
    // over the symmetric edge list, no join — which equals the state after
    // the plain loop's first propagation step, so one full round (join +
    // groupBy + checkpoint) is saved and the fixpoint is unchanged.
    var labels = sym
      .select(col("a_id").as("id"), col("b_id").as("nbr"))
      .groupBy(col("id"))
      .agg(least(min(col("nbr")), col("id")).as("label"))
    var converged = false
    var rounds = 0
    var prevRound: Option[DataFrame] = None
    while (!converged && rounds < 25) {
      val nbr = sym.join(labels, sym("b_id") === labels("id"))
        .groupBy(col("a_id")).agg(min(col("label")).as("nbr_min"))
      val stepped = labels.join(nbr, labels("id") === nbr("a_id"), "left")
        .select(labels("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // Pointer jumping: also take the label OF my label's node (labels only
      // ever decrease toward the component min, so this shortcut preserves
      // the fixpoint while making convergence O(log diameter) instead of
      // O(diameter) rounds — path-length halving).
      val parents = stepped.select(col("id").as("p_id"), col("label").as("p_label"))
      // localCheckpoint: materializes the labeling and CUTS the lineage —
      // without it the plan nests deeper per round and heap/analysis cost
      // grows superlinearly; the old label rides along so convergence is
      // read off the same materialized result (no extra join per round).
      val next = stepped.join(parents, stepped("label") === parents("p_id"), "left")
        .select(stepped("id"), col("old"),
          coalesce(col("p_label"), col("label")).as("label"))
        .localCheckpoint()
      converged = next.filter(col("label") =!= col("old")).isEmpty
      prevRound.foreach(GraftBridge.releaseCheckpoint)  // round N-1 superseded by round N
      prevRound = Some(next)
      labels = next.drop("old")
      rounds += 1
    }
    GraftBridge.releaseCheckpoint(edges)  // final labeling is checkpointed — edges no longer needed
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Dedup endgame: near-dup PAIRS → connected-component CLUSTERS, one
    * representative per cluster (the min doc_id = cluster_id). Edges are
    * bigram-Jaccard ≥ 0.1 within (lang, source) blocks, generated by the
    * EXACT prefix-filter similarity join — the edge set is provably
    * identical to an all-pairs scan, so the recursive-CTE oracle matches
    * unconditionally (an LSH generator could not promise that: measured
    * borderline J₂≈0.1 edges here have trigram Jaccard 0.00–0.03, far
    * below any usable MinHash S-curve). The probabilistic sub-quadratic
    * pipeline at production thresholds is [[graft.api.DedupPipeline]]. */
  def clusterComponents(s: SparkSession, d: String): DataFrame = {
    // Shingling (tokenize + hash + sort-distinct) is the per-doc CPU cost
    // and the plan reads `docs` three times (prefix explode + both verify
    // fetches); Catalyst has no common-subplan elimination across join
    // branches, so without a persist the corpus is shingled 3x. At cluster
    // scale this is the standard "materialize the signature table once"
    // step (disk-backed persist; a real pipeline would write it out).
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.TextFunctions.shingles2(col("text")).as("bg"))
      .filter(size(col("bg")) >= 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    connectedComponents(prefixFilterEdges(docs, 0.1))
      .orderBy(col("doc_id"))
  }

  /** LSH candidate-generation QUALITY metric — the monitoring query a
    * production dedup pipeline runs before trusting banding at 100 TB:
    * ground-truth near-dup pairs (exact 3-gram Jaccard ≥ 0.5 within a
    * BOUNDED per-block evaluation sample) checked against md5-minhash
    * 4-bands-of-4 signatures. Emits n_true / n_caught / recall.
    *
    * Scale design: (lang, source) blocks are alphabet-bounded in COUNT
    * but corpus-proportional in SIZE (112 docs/block at sf0.1 vs 16 at
    * sf0.01), so a full blocked self-join is still corpus-quadratic
    * divided by a constant — the round-10 quadratic-eval-arm class. The
    * truth join therefore pairs within a deterministic ≤64-docs-PER-BLOCK
    * sample (smallest portable 32-bit md5 hashes, doc_id tie-break) cut
    * by a bounded-heap TopK aggregate — shuffle volume 64·|blocks|, never
    * a per-block sort — making the eval cost ≤ |blocks|·64² at any corpus
    * size, with the bound in code (the sim_knn_recall posture); the
    * oracle draws the IDENTICAL sample via the shared hash. The truth
    * join itself uses the codegen'd sorted-intersect kernel (64-bit
    * injective shingle hashes ⇒ counts equal the oracle's string sets);
    * the EXPENSIVE portable signatures (16 md5 passes over string
    * shingles) are computed ONLY for docs that appear in a true pair — a
    * pair is caught iff any band collides, so no corpus-wide banding
    * join is ever needed for recall. */
  def lshRecall(s: SparkSession, d: String): DataFrame = {
    // Eligibility (≥3 tokens ⟺ ≥1 shingle) is decided on the cheap token
    // count; the expensive shingle arrays are built ONLY for the ≤64
    // docs/block that survive the sample cut.
    val eligible = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .filter(size(tokens(col("text"))) >= 3)
    val tk = udaf(graft.functions.TopK64,
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.TopKEntry]())
    val sampleIds = eligible
      .groupBy(col("lang"), col("source"))
      .agg(tk((-md5hash32(col("doc_id").cast("string"), 7)).cast("double"),
        col("doc_id")).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as("doc_id"))
    // text rides along on the ≤64/block sample so the signature branch
    // below reads docs instead of a third full-corpus documents scan
    val docs = eligible.join(sampleIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        graft.functions.TextFunctions.shingles3(col("text")).as("hs"))
    val inter = graft.functions.GraftFunctions
      .sortedIntersect(col("a_hs"), col("b_hs"))
    // tiny output, expensive producer: persist so the truth join runs once
    val truePairs = docs
      .select(col("lang"), col("source"), col("doc_id").as("a_id"),
        col("hs").as("a_hs"))
      .join(docs.select(col("lang"), col("source"),
        col("doc_id").as("b_id"), col("hs").as("b_hs")),
        Seq("lang", "source"))
      .filter(col("a_id") < col("b_id"))
      .filter((inter.cast("double") /
        (size(col("a_hs")) + size(col("b_hs")) - inter)) >= 0.5)
      .select(col("a_id"), col("b_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = truePairs.select(col("a_id").as("doc_id"))
      .union(truePairs.select(col("b_id").as("doc_id"))).distinct()
    // ids grows with the true-pair corpus — no broadcast hint; AQE
    // measures the persisted side and picks broadcast only while it fits.
    // Reads the sampled docs (already eligibility-filtered), never a
    // fresh corpus scan.
    val sig = docs
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), shingles(col("t")).as("sh"))
      .select(col("doc_id") +: minhash16: _*)
      .select(col("doc_id") +: (0 until 4).map { b =>
        md5(concat_ws(",",
          (b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*)).as(s"band$b")
      }: _*)
    val caught = truePairs
      .join(sig.select(col("doc_id").as("a_id") +:
        (0 until 4).map(b => col(s"band$b").as(s"a_band$b")): _*), "a_id")
      .join(sig.select(col("doc_id").as("b_id") +:
        (0 until 4).map(b => col(s"band$b").as(s"b_band$b")): _*), "b_id")
      .filter((0 until 4).map(b =>
        col(s"a_band$b") === col(s"b_band$b")).reduce(_ || _))
    truePairs.agg(count(lit(1)).as("n_true"))
      .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
      .select(col("n_true"), col("n_caught"),
        when(col("n_true") > 0,
          col("n_caught").cast("double") / col("n_true"))
          .otherwise(lit(null).cast("double")).as("recall"))
      .orderBy(col("n_true"))
  }

  /** Duplicate-group report: [[graft.api.DedupPipeline.representatives]]
    * over the dd_lsh_clusters labeling — one row per near-dup cluster with
    * its representative (min doc_id), member count, and the sorted member
    * list as a string, the "what to delete" artifact a dedup run actually
    * ships. One extra groupBy on cluster_id. */
  def dupGroups(s: SparkSession, d: String): DataFrame = {
    val p = new graft.api.DedupPipeline()
    p.representatives(p.clusters(p.edges(s, d)))
  }

  /** Incremental exact dedup with a Bloom-filter pre-filter — the "new
    * batch vs 100-TB corpus" pattern: probing a compact bit array avoids
    * shuffling the whole seen-corpus against every increment. Build: each
    * existing doc's content md5 yields k=4 positions in an m=4096-bit
    * array (the four disjoint 8-hex-digit slices of the md5, so the bloom
    * membership is portable to the SQL oracle, false positives included);
    * the bit array is OR-folded in a partial+final aggregate over 64
    * words and broadcast as ONE 64-long row. Probe: map-only bit tests;
    * only `maybe_seen` survivors reach the exact-verify join, so the
    * expensive side is |FP + true dups|, not |increment|. m is a fixture
    * constant — size m ≈ 10·n bits for ~1% FP in production (at sf0.1
    * this deliberately shows saturation: 4000 keys × 4 bits in 4096
    * slots ≈ 90% maybe — the failure mode you size m against). The final
    * answer is EXACT (bloom only prunes; verify decides), which is what
    * the oracle checks alongside the bloom's own bit-level behavior. */
  def bloomIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    val bloom = Md5Bloom.pack(Md5Bloom.words(existing, col("h"), 4096), 4096)
    val probed = Md5Bloom.probe(incoming, bloom, col("h"), 4096)
      .withColumn("maybe_seen", Md5Bloom.hit.cast("int"))
      .select(col("doc_id"), col("h"), col("maybe_seen"))
    val seen = existing.select(col("h")).distinct().withColumn("dup_hit", lit(1))
    val verified = probed.filter(col("maybe_seen") === 1)
      .join(seen, Seq("h"), "left")
      .select(col("doc_id"), col("maybe_seen"),
        when(col("dup_hit").isNotNull, 1).otherwise(0).as("is_dup"))
    probed.filter(col("maybe_seen") === 0)
      .select(col("doc_id"), col("maybe_seen"), lit(0).as("is_dup"))
      .unionByName(verified)
      .orderBy(col("doc_id"))
  }

  /** State root for [[bloomStateRuns]]: the SANITIZED dataset path keys
    * the directory (two datasets can no longer hashCode-collide into the
    * same state), under this JVM's [[Scratch.root]] (two simultaneous
    * runs over the same dataset each get their own run-scoped root instead
    * of racing overwrite-vs-lazy-read on shared files). NOTE: that makes
    * the state RUN-SCOPED, not cross-process — the query simulates both
    * runs inside one JVM; a production cross-process pipeline would key
    * the root by dataset + run epoch instead. Stable per dataset within a
    * JVM and exposed package-private so the equivalence spec can audit
    * THIS run's rolled-forward artifacts. */
  private[graft] def bloomStateDir(d: String): String =
    s"${Scratch.root}/bloom_state_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"

  /** CROSS-RUN incremental dedup — the two-run twin of the in-plan
    * [[bloomIncremental]], completing the incremental story: run 1 (the
    * prior ingest) persists its dedup state as a parquet artifact — the
    * 64-row (word, mask) bloom slice table (mergeable: OR the masks) plus
    * the exact key store — and run 2 loads THAT STATE FROM DISK, probes
    * the new batch against it (map-only bit tests, exact-verify join only
    * for maybe-hits), and rolls the state forward (bit_or-merged bloom ∪
    * batch keys written as next-run state) before returning the per-doc
    * decisions. The prior run's raw rows are never re-read in run 2 —
    * at 100 TB that's the point: state is O(keys), not O(corpus), and the
    * bloom-word table merges associatively across any number of runs.
    * Gate: the oracle recomputes everything from scratch in DuckDB, so a
    * hash-exact pass IS the state∪batch ≡ full-recompute equivalence;
    * Round9Spec additionally pins the rolled-forward artifacts against a
    * from-scratch build over the whole corpus. */
  def bloomStateRuns(s: SparkSession, d: String): DataFrame = {
    val stateDir = bloomStateDir(d)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    def bloomWords(df: DataFrame): DataFrame = Md5Bloom.words(df, col("h"), 4096)
    // Run 1: persist the mergeable state artifact.
    bloomWords(existing).write.mode("overwrite").parquet(s"$stateDir/bloom")
    existing.select(col("h")).distinct()
      .write.mode("overwrite").parquet(s"$stateDir/keys")
    // Run 2: everything below reads only the artifact + the new batch.
    val loadedWords = s.read.parquet(s"$stateDir/bloom")
    val loadedKeys = s.read.parquet(s"$stateDir/keys")
    val probed = Md5Bloom.probe(incoming, Md5Bloom.pack(loadedWords, 4096), col("h"), 4096)
      .withColumn("maybe_seen", Md5Bloom.hit.cast("int"))
      .select(col("doc_id"), col("h"), col("maybe_seen"))
    // Roll the state forward for the next run: OR-merge the bloom words,
    // union the key store.
    bloomWords(incoming).unionByName(loadedWords)
      .groupBy(col("word")).agg(bit_or(col("mask")).as("mask"))
      .write.mode("overwrite").parquet(s"$stateDir/bloom_next")
    incoming.select(col("h")).unionByName(loadedKeys.select(col("h")))
      .distinct()
      .write.mode("overwrite").parquet(s"$stateDir/keys_next")
    val seen = loadedKeys.withColumn("dup_hit", lit(1))
    val verified = probed.filter(col("maybe_seen") === 1)
      .join(seen, Seq("h"), "left")
      .select(col("doc_id"), col("maybe_seen"),
        when(col("dup_hit").isNotNull, 1).otherwise(0).as("is_dup"))
    probed.filter(col("maybe_seen") === 0)
      .select(col("doc_id"), col("maybe_seen"), lit(0).as("is_dup"))
      .unionByName(verified)
      .orderBy(col("doc_id"))
  }

  /** Paragraph-granularity exact dedup (C4/RefinedWeb-style): the corpus is
    * cut into fixed 16-token chunks (the fixture's text has no paragraph
    * breaks, so position-chunking stands in for split-on-newline — the
    * pipeline is identical), each chunk keyed by content md5, and the
    * FIRST occurrence in (doc_id, chunk_idx) order owns it; every later
    * identical chunk is a duplicate. Per-doc report: chunks held vs chunks
    * that are cross-corpus repeats. Explode is linear in corpus tokens, the
    * owner table is one groupBy on the chunk hash, the ownership check is
    * the same hash-keyed join — nothing quadratic, and the chunk hash is
    * the natural shuffle key at 100 TB. */
  def chunkDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 16)
    val ch = docs.select(col("doc_id"),
      explode(transform(sequence(lit(1), expr("size(t) div 16")),
        i => struct(i.as("chunk_idx"),
          md5(array_join(slice(col("t"), (i - 1) * 16 + 1, lit(16)), " ")).as("h"))))
        .as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.h"),
        (col("doc_id") * 1000000L + col("c.chunk_idx")).as("occ"))
    val owners = ch.groupBy(col("h")).agg(min(col("occ")).as("owner"))
    ch.join(owners, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") =!= col("owner"), 1).otherwise(0)).as("n_dup_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Per-source duplication report — the curation dashboard number that
    * decides which sources get deduped harder (e.g. a crawl slice with 40%
    * exact dups vs a curated set at 2%). Exact-hash grouping (same policy
    * as `dd_exact`: keep the min doc_id per content hash), then one small
    * aggregate per source; dup_rate is one double division of exact counts.
    * Two linear shuffles (content hash, then source) — carries to 100 TB. */
  def dupStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val firsts = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    docs.join(firsts, Seq("h"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dups"),
        (sum(col("is_dup")).cast("double") / count(lit(1)).cast("double"))
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  /** Exact sub-block triangle decomposition of a blocked i<j self-pair
    * enumeration — the skew guard for blocked ER. Records of each block
    * are hashed into gn = ⌈|block| / subBlock⌉ sub-blocks; every record is
    * replicated gn× (once per sub-block it must meet — zero replication
    * for small blocks, where gn = 1) and the pair join keys on
    * (block, ci, cj), so a hot block's |block|² pair work spreads over
    * gn(gn+1)/2 independent cells of ≤ subBlock² work instead of landing
    * on ONE reducer. (A plain `join_salted_skew`-style salt doesn't work
    * on a SELF-join — both sides are skewed — hence the triangle shape.)
    * Each unordered pair meets in EXACTLY one surviving cell: a cross-
    * sub-block pair (ga ≠ gb) only ever shares the cell (min,max)(ga,gb);
    * a same-sub-block pair shares all of g's cells, and the
    * `a_g ≠ b_g ∨ (ci,cj) = (g,g)` filter keeps only the diagonal one.
    * The output pair set is therefore IDENTICAL to the naive blocked
    * self-join (gate hashes untouched); only the shuffle-key granularity
    * changes. The block-count side is an aggregate on the same key (one
    * row per distinct blocking key — which GROWS with the corpus, so the
    * join is unhinted: AQE broadcasts it while it fits and falls back to
    * the co-partitioned key shuffle past the ceiling).
    * Returns blockCols ++ (a_g, b_g, ci, cj) ++ a_/b_-prefixed key+attrs,
    * already filtered to a_key < b_key. */
  private[graft] def trianglePairs(p: DataFrame, blockCols: Seq[String],
      key: String, attrs: Seq[String], subBlock: Long): DataFrame = {
    val bc = p.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("bc"))
    val rep = p.join(bc, blockCols)
      .withColumn("gn", expr(s"CAST((bc + ${subBlock - 1}) div $subBlock AS INT)"))
      .withColumn("g", pmod(xxhash64(col(key)), col("gn")).cast("int"))
      .withColumn("t", explode(sequence(lit(0), col("gn") - 1)))
      .withColumn("ci", least(col("g"), col("t")))
      .withColumn("cj", greatest(col("g"), col("t")))
    def side(pre: String): DataFrame = rep.select(
      blockCols.map(col) ++ Seq(col("ci"), col("cj"), col("g").as(s"${pre}g")) ++
        (key +: attrs).map(c => col(c).as(s"$pre$c")): _*)
    side("a_").join(side("b_"), blockCols ++ Seq("ci", "cj"))
      .filter(col(s"a_$key") < col(s"b_$key") &&
        (col("a_g") =!= col("b_g") ||
          (col("ci") === col("a_g") && col("cj") === col("a_g"))))
  }

  /** Fellegi–Sunter record-linkage scoring — the probabilistic
    * entity-resolution step after blocking: each candidate pair gets a
    * linkage score = Σ field agreement/disagreement weights (frozen
    * milli-log-odds LITERALS, so the score is an exact BIGINT sum) and a
    * match / possible / non-match classification at fixed thresholds.
    * Blocking is (first name token, size) — the standard knob that keeps
    * the pair space at Σ|block|², never corpus² — and the pair join runs
    * through the [[trianglePairs]] skew guard (sub-block ≤ 32), so a hot
    * blocking key at 100× spreads over many cells instead of one reducer;
    * the name comparator is the same bounded levenshtein as
    * `join_fuzzy_name`. Top-100 by (score, keys) via a distributed
    * TakeOrdered. */
  def erScore(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select(
      col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), element_at(split(col("p_name"), " "), 1).as("blk"))
    trianglePairs(p, Seq("blk", "p_size"), "p_partkey",
        Seq("p_name", "p_brand", "p_type"), 32L)
      .withColumnRenamed("a_p_partkey", "a_key")
      .withColumnRenamed("b_p_partkey", "b_key")
      .withColumnRenamed("a_p_name", "a_name")
      .withColumnRenamed("b_p_name", "b_name")
      .withColumnRenamed("a_p_brand", "a_brand")
      .withColumnRenamed("b_p_brand", "b_brand")
      .withColumnRenamed("a_p_type", "a_type")
      .withColumnRenamed("b_p_type", "b_type")
      .withColumn("name_dist", levenshtein(col("a_name"), col("b_name")))
      .withColumn("score_milli",
        when(col("name_dist") <= 6, 800L).otherwise(-300L) +
          when(col("a_brand") === col("b_brand"), 400L).otherwise(-200L) +
          when(col("a_type") === col("b_type"), 500L).otherwise(-250L))
      .withColumn("verdict",
        when(col("score_milli") >= 1500L, "match")
          .when(col("score_milli") >= 500L, "possible")
          .otherwise("non_match"))
      .select(col("a_key"), col("b_key"), col("name_dist"),
        col("score_milli"), col("verdict"))
      .orderBy(col("score_milli").desc, col("a_key").asc, col("b_key").asc)
      .limit(100)
  }

  private val sqlToks =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
  private def sqlShingles(t: String): String =
    s"list_distinct(list_transform(generate_series(1, len($t) - 2), " +
      s"i -> $t[i] || '_' || $t[i+1] || '_' || $t[i+2]))"
  private def sqlHash32(e: String, seed: Int): String =
    s"CAST(('0x' || substring(md5('$seed:' || $e), 1, 8)) AS BIGINT)"

  override def catalog: Seq[Query] = Seq(
    Query("dd_er_score", erScore, Some(
      """WITH p AS MATERIALIZED (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |    split_part(p_name, ' ', 1) AS blk
        |  FROM part),
        |pairs AS MATERIALIZED (
        |  SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |    levenshtein(a.p_name, b.p_name) AS name_dist,
        |    CAST(CASE WHEN levenshtein(a.p_name, b.p_name) <= 6
        |        THEN 800 ELSE -300 END +
        |      CASE WHEN a.p_brand = b.p_brand THEN 400 ELSE -200 END +
        |      CASE WHEN a.p_type = b.p_type THEN 500 ELSE -250 END
        |      AS BIGINT) AS score_milli
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.p_size = b.p_size
        |    AND a.p_partkey < b.p_partkey)
        |SELECT a_key, b_key, CAST(name_dist AS INT) AS name_dist,
        |  score_milli,
        |  CASE WHEN score_milli >= 1500 THEN 'match'
        |    WHEN score_milli >= 500 THEN 'possible'
        |    ELSE 'non_match' END AS verdict
        |FROM pairs
        |ORDER BY score_milli DESC, a_key ASC, b_key ASC LIMIT 100""".stripMargin)),
    Query("dd_dup_stats", dupStats, Some(
      """WITH docs AS (
        |  SELECT doc_id, source, md5(text) AS h FROM documents),
        |firsts AS (SELECT h, MIN(doc_id) AS keep_id FROM docs GROUP BY h)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN d.doc_id <> f.keep_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dups,
        |  CAST(SUM(CASE WHEN d.doc_id <> f.keep_id THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_rate
        |FROM docs d JOIN firsts f ON d.h = f.h
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin)),
    Query("dd_chunk_dedup", chunkDedup, Some(
      s"""WITH toksT AS (SELECT doc_id, $sqlToks AS t FROM documents),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |    md5(array_to_string(t[(16*(i-1)+1):(16*i)], ' ')) AS h,
         |    doc_id * 1000000 + i AS occ
         |  FROM toksT, unnest(range(1, CAST(floor(len(t)/16) AS BIGINT) + 1)) AS u(i)),
         |own AS (SELECT h, MIN(occ) AS owner FROM ch GROUP BY h)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN occ <> owner THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks
         |FROM ch JOIN own USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // dd_bloom_state shares dd_bloom_incremental's oracle verbatim: the
    // oracle is a from-scratch recompute, so a hash-exact pass proves the
    // through-disk state path is equivalent to full recomputation.
    Query("dd_bloom_state", bloomStateRuns, Some(
      """WITH pe AS (SELECT DISTINCT
        |    CAST(('0x' || substring(md5(text), 1 + 8*j, 8)) AS BIGINT) % 4096 AS p
        |  FROM documents CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
        |  WHERE doc_id % 5 <> 0),
        |probes AS (SELECT doc_id, text,
        |  CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 4096 AS p0,
        |  CAST(('0x' || substring(md5(text), 9, 8)) AS BIGINT) % 4096 AS p1,
        |  CAST(('0x' || substring(md5(text), 17, 8)) AS BIGINT) % 4096 AS p2,
        |  CAST(('0x' || substring(md5(text), 25, 8)) AS BIGINT) % 4096 AS p3
        |  FROM documents WHERE doc_id % 5 = 0),
        |mb AS (SELECT doc_id, text,
        |  CASE WHEN p0 IN (SELECT p FROM pe) AND p1 IN (SELECT p FROM pe)
        |        AND p2 IN (SELECT p FROM pe) AND p3 IN (SELECT p FROM pe)
        |    THEN 1 ELSE 0 END AS maybe_seen
        |  FROM probes)
        |SELECT doc_id, maybe_seen,
        |  CASE WHEN maybe_seen = 1 AND EXISTS (SELECT 1 FROM documents e
        |    WHERE e.doc_id % 5 <> 0 AND md5(e.text) = md5(mb.text))
        |    THEN 1 ELSE 0 END AS is_dup
        |FROM mb ORDER BY doc_id""".stripMargin)),
    Query("dd_bloom_incremental", bloomIncremental, Some(
      """WITH pe AS (SELECT DISTINCT
        |    CAST(('0x' || substring(md5(text), 1 + 8*j, 8)) AS BIGINT) % 4096 AS p
        |  FROM documents CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
        |  WHERE doc_id % 5 <> 0),
        |probes AS (SELECT doc_id, text,
        |  CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 4096 AS p0,
        |  CAST(('0x' || substring(md5(text), 9, 8)) AS BIGINT) % 4096 AS p1,
        |  CAST(('0x' || substring(md5(text), 17, 8)) AS BIGINT) % 4096 AS p2,
        |  CAST(('0x' || substring(md5(text), 25, 8)) AS BIGINT) % 4096 AS p3
        |  FROM documents WHERE doc_id % 5 = 0),
        |mb AS (SELECT doc_id, text,
        |  CASE WHEN p0 IN (SELECT p FROM pe) AND p1 IN (SELECT p FROM pe)
        |        AND p2 IN (SELECT p FROM pe) AND p3 IN (SELECT p FROM pe)
        |    THEN 1 ELSE 0 END AS maybe_seen
        |  FROM probes)
        |SELECT doc_id, maybe_seen,
        |  CASE WHEN maybe_seen = 1 AND EXISTS (SELECT 1 FROM documents e
        |    WHERE e.doc_id % 5 <> 0 AND md5(e.text) = md5(mb.text))
        |    THEN 1 ELSE 0 END AS is_dup
        |FROM mb ORDER BY doc_id""".stripMargin)),
    Query("dd_lsh_recall", lshRecall, Some {
      val mh = (0 until 16).map { i =>
        s"list_min(list_transform(sh, x -> ${sqlHash32("x", i)})) AS mh$i"
      }.mkString(",\n  ")
      val bands = (0 until 4).map { b =>
        val cols = (b * 4 until b * 4 + 4).map(i => s"CAST(mh$i AS VARCHAR)")
          .mkString(" || ',' || ")
        s"md5($cols) AS band$b"
      }.mkString(",\n  ")
      val anyBand = (0 until 4)
        .map(b => s"a.band$b = b.band$b").mkString(" OR ")
      s"""WITH d0 AS (
         |  SELECT doc_id, lang, source, ${sqlShingles(sqlToks)} AS sh
         |  FROM documents WHERE len($sqlToks) >= 3),
         |d AS MATERIALIZED (
         |  SELECT doc_id, lang, source, sh FROM d0
         |  QUALIFY row_number() OVER (PARTITION BY lang, source
         |    ORDER BY ${sqlHash32("CAST(doc_id AS VARCHAR)", 7)}, doc_id)
         |    <= 64),
         |tp AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM d a JOIN d b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |      >= 0.5),
         |m AS (
         |  SELECT doc_id, $mh FROM d
         |  WHERE doc_id IN (SELECT a_id FROM tp UNION SELECT b_id FROM tp)),
         |sig AS (SELECT doc_id, $bands FROM m),
         |caught AS (
         |  SELECT tp.* FROM tp
         |  JOIN sig a ON a.doc_id = tp.a_id
         |  JOIN sig b ON b.doc_id = tp.b_id
         |  WHERE $anyBand)
         |SELECT (SELECT COUNT(*) FROM tp) AS n_true,
         |  (SELECT COUNT(*) FROM caught) AS n_caught,
         |  CASE WHEN (SELECT COUNT(*) FROM tp) > 0
         |    THEN CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
         |       / (SELECT COUNT(*) FROM tp) END AS recall
         |ORDER BY n_true""".stripMargin
    }),
    Query("dd_clusters", clusterComponents, Some {
      val bg = s"list_distinct(list_transform(generate_series(1, len($sqlToks) - 1), " +
        s"i -> ($sqlToks)[i] || '_' || ($sqlToks)[i+1]))"
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, lang, source, $bg AS bg FROM documents
         |  WHERE len($sqlToks) >= 2),
         |e AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
         |    AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
         |    (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) >= 0.1),
         |sym AS (SELECT a_id, b_id FROM e UNION ALL SELECT b_id, a_id FROM e),
         |verts AS (SELECT DISTINCT a_id AS id FROM sym),
         |reach(node, lbl) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.a_id, r.lbl FROM sym s JOIN reach r ON s.b_id = r.node)
         |SELECT node AS doc_id, MIN(lbl) AS cluster_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
    }),
    Query("dd_dup_groups", dupGroups, Some {
      val tg = s"list_distinct(list_transform(generate_series(1, len($sqlToks) - 2), " +
        s"i -> ($sqlToks)[i] || '_' || ($sqlToks)[i+1] || '_' || ($sqlToks)[i+2]))"
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $tg AS tg FROM documents
         |  WHERE len($sqlToks) >= 3),
         |inv AS (SELECT doc_id, len(tg) AS n, unnest(tg) AS t FROM d),
         |e AS (
         |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM inv x JOIN inv y ON x.t = y.t AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id, x.n, y.n
         |  HAVING CAST(count(*) AS DOUBLE) / (x.n + y.n - count(*)) >= 0.5),
         |sym AS (SELECT a_id, b_id FROM e UNION ALL SELECT b_id, a_id FROM e),
         |verts AS (SELECT DISTINCT a_id AS id FROM sym),
         |reach(node, lbl) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.a_id, r.lbl FROM sym s JOIN reach r ON s.b_id = r.node),
         |labels AS (
         |  SELECT node AS doc_id, MIN(lbl) AS cluster_id
         |  FROM reach GROUP BY node)
         |SELECT cluster_id AS keep_doc_id, COUNT(*) AS n_members,
         |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
         |    AS members
         |FROM labels GROUP BY cluster_id
         |ORDER BY keep_doc_id""".stripMargin
    }),
    Query("dd_lsh_clusters", new graft.api.DedupPipeline().run, Some {
      // Exact trigram-Jaccard ≥ 0.5 edges via an inverted-index join
      // (unnest trigram → join on trigram → shared count per pair): the
      // same edge set as an all-pairs scan — every J > 0 pair shares a
      // trigram — at near-linear cost (verified equal to the quadratic
      // form at sf0.001/0.01). The Spark side's LSH-caught-and-verified
      // edge set equals this on the fixture data (see DedupPipeline's
      // Scaladoc for the recall argument).
      val tg = s"list_distinct(list_transform(generate_series(1, len($sqlToks) - 2), " +
        s"i -> ($sqlToks)[i] || '_' || ($sqlToks)[i+1] || '_' || ($sqlToks)[i+2]))"
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, $tg AS tg FROM documents
         |  WHERE len($sqlToks) >= 3),
         |inv AS (SELECT doc_id, len(tg) AS n, unnest(tg) AS t FROM d),
         |e AS (
         |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM inv x JOIN inv y ON x.t = y.t AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id, x.n, y.n
         |  HAVING CAST(count(*) AS DOUBLE) / (x.n + y.n - count(*)) >= 0.5),
         |sym AS (SELECT a_id, b_id FROM e UNION ALL SELECT b_id, a_id FROM e),
         |verts AS (SELECT DISTINCT a_id AS id FROM sym),
         |reach(node, lbl) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT s.a_id, r.lbl FROM sym s JOIN reach r ON s.b_id = r.node)
         |SELECT node AS doc_id, MIN(lbl) AS cluster_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
    }),
    Query("dd_keep_best", keepBest, Some(
      s"""WITH t AS (
         |  SELECT doc_id, md5(text) AS content_md5, len($sqlToks) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, content_md5, n_tokens,
         |    row_number() OVER (PARTITION BY content_md5
         |      ORDER BY n_tokens DESC, doc_id) AS rn
         |  FROM t)
         |SELECT content_md5, COUNT(*) AS n_copies,
         |  MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
         |  MIN(CASE WHEN rn = 1 THEN n_tokens END) AS keep_tokens,
         |  MIN(doc_id) AS min_id_policy_doc
         |FROM r GROUP BY content_md5
         |ORDER BY content_md5""".stripMargin)),
    Query("dd_exact", exact, Some(
      """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin)),
    Query("dd_minhash_sig", minhashSignatures, Some {
      val mh = (0 until 16).map { i =>
        s"list_min(list_transform(sh, x -> ${sqlHash32("x", i)})) AS mh$i"
      }.mkString(",\n  ")
      val sig = (0 until 16).map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || ',' || ")
      val bands = (0 until 4).map { b =>
        val cols = (b * 4 until b * 4 + 4).map(i => s"CAST(mh$i AS VARCHAR)")
          .mkString(" || ',' || ")
        s"md5($cols) AS band$b"
      }.mkString(",\n  ")
      s"""SELECT doc_id, md5($sig) AS sig_md5,
         |  $bands
         |FROM (
         |  SELECT doc_id, $mh
         |  FROM (SELECT doc_id, ${sqlShingles(sqlToks)} AS sh FROM documents
         |        WHERE len($sqlToks) >= 3) s) m
         |ORDER BY doc_id""".stripMargin
    }),
    // Rows-only: xxhash64 scale path (see Scaladoc).
    Query("dd_minhash_pairs", minhashCandidatePairs, None),
    Query("dd_simhash", simhash, Some(
      s"""SELECT doc_id,
         |  list_reduce(list_transform(generate_series(0, 31), b ->
         |    CASE WHEN list_reduce(list_transform(hs, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END),
         |        (a, x) -> a + x) > 0
         |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END),
         |    (a, x) -> a + x) AS simhash32
         |FROM (SELECT doc_id,
         |    list_transform(list_distinct($sqlToks), t -> ${sqlHash32("t", 99)}) AS hs
         |  FROM documents) t
         |ORDER BY doc_id""".stripMargin)),
    Query("dd_ngram_jaccard", ngramJaccardPairs, Some {
      val bg = s"list_distinct(list_transform(generate_series(1, len($sqlToks) - 1), " +
        s"i -> ($sqlToks)[i] || '_' || ($sqlToks)[i+1]))"
      s"""SELECT lang, source, a_id, b_id, jaccard FROM (
         |  SELECT a.lang, a.source, a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
         |      (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) AS jaccard
         |  FROM (SELECT doc_id, lang, source, $bg AS bg FROM documents
         |        WHERE len($sqlToks) >= 2) a
         |  JOIN (SELECT doc_id, lang, source, $bg AS bg FROM documents
         |        WHERE len($sqlToks) >= 2) b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) p
         |WHERE jaccard > 0
         |ORDER BY jaccard DESC, a_id, b_id LIMIT 200""".stripMargin
    }),
    Query("dd_threshold_sweep", thresholdSweep, Some {
      val bg = s"list_distinct(list_transform(generate_series(1, len($sqlToks) - 1), " +
        s"i -> ($sqlToks)[i] || '_' || ($sqlToks)[i+1]))"
      s"""WITH pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) /
         |      (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)))
         |      AS jaccard
         |  FROM (SELECT doc_id, lang, source, $bg AS bg FROM documents
         |        WHERE len($sqlToks) >= 2) a
         |  JOIN (SELECT doc_id, lang, source, $bg AS bg FROM documents
         |        WHERE len($sqlToks) >= 2) b
         |    ON a.lang = b.lang AND a.source = b.source
         |      AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.bg, b.bg)) > 0),
         |th AS (SELECT CAST(k AS DOUBLE) / 20.0 AS t
         |  FROM (SELECT unnest(generate_series(10, 19)) AS k)),
         |e AS (SELECT t, a_id, b_id FROM pairs JOIN th ON jaccard >= t),
         |np AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM e GROUP BY t),
         |nd AS (SELECT t, CAST(COUNT(DISTINCT m) AS BIGINT) AS n_docs
         |  FROM (SELECT t, unnest([a_id, b_id]) AS m FROM e) GROUP BY t)
         |SELECT t, n_pairs, n_docs FROM np JOIN nd USING (t)
         |ORDER BY t""".stripMargin
    }),
  )
}

/** The Bloom layout shared by `join_bloom_reduce`, `dd_bloom_incremental`
  * and `dd_bloom_state`: each key sets k=4 bits of an m-bit array, at the
  * four disjoint 8-hex-digit slices of its md5 digest mod m (portable to
  * the SQL oracles, false positives included); the bits OR-fold into
  * 64-bit words. */
private[graft] object Md5Bloom {
  /** Bit position `j` (0..3) of the md5 hex digest `h`. */
  def pos(h: Column, j: Int, mBits: Long): Column =
    conv(substring(h, 1 + 8 * j, 8), 16, 10).cast("long") % mBits

  /** (word, mask) rows: the bit_or of the keys' bits per 64-bit word —
    * a partial+final aggregate, and mergeable across batches by another
    * bit_or on `word`. */
  def words(keys: DataFrame, h: Column, mBits: Long): DataFrame = keys
    .select(explode(array((0 to 3).map(pos(h, _, mBits)): _*)).as("p"))
    .select(expr("p div 64").as("word"), (col("p") % 64).as("bit"))
    .groupBy(col("word"))
    .agg(bit_or(expr("shiftleft(1L, CAST(bit AS INT))")).as("mask"))

  /** ONE row holding `bloom`, the dense array of all mBits/64 words. */
  def pack(words: DataFrame, mBits: Long): DataFrame = words
    .agg(map_from_entries(collect_list(struct(col("word"), col("mask"))))
      .as("m"))
    .select(transform(sequence(lit(0L), lit(mBits / 64 - 1)),
      w => coalesce(element_at(col("m"), w), lit(0L))).as("bloom"))

  /** `df` crossed with the broadcast `bloom` row, plus the positions
    * `p0`..`p3` of digest `h` — the columns [[hit]] reads. */
  def probe(df: DataFrame, bloom: DataFrame, h: Column, mBits: Long): DataFrame =
    (0 to 3).foldLeft(df.crossJoin(broadcast(bloom))) {
      (acc, j) => acc.withColumn(s"p$j", pos(h, j, mBits))
    }

  /** All four probed bits are set: the key may be present. */
  def hit: Column = (0 to 3).map(j => expr(
    s"(element_at(bloom, CAST(p$j div 64 AS INT) + 1)" +
      s" & shiftleft(1L, CAST(p$j % 64 AS INT))) != 0")).reduce(_ && _)
}
