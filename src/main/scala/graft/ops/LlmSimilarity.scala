package graft.ops

import graft.{Query, QueryModule, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY.md §2.11).
  *
  * Float determinism: every dot product is an explicit sequential left fold
  * over element products cast to double (`aggregate`/`zip_with` in Spark,
  * `list_reduce`/`list_transform` in DuckDB) — identical add order →
  * bit-identical doubles, so cosine scores are hash-exact with no rounding.
  *
  * Scale posture: brute-force top-k broadcasts the (small) query set and
  * streams the corpus — one map-side join, a per-query top-k window, no
  * quadratic blow-up. Every brute-force PAIR arm (`sim_top_pairs`,
  * `dd_embed_neardup`, `sim_ann_recall`'s truth set) is capped IN CODE to
  * the deterministic ≤512-vector [[evalSample]] before any pair join —
  * nothing registered here is quadratic in the corpus. The LSH bucketing
  * is the 100-TB path: a map-only signature + one groupBy, after which
  * candidate generation is a per-bucket join. */
object LlmSimilarity extends QueryModule {

  /** Sequential-fold dot product in double — via the codegen'd
    * FloatDotProduct expression (identical op order and therefore identical
    * doubles as the interpreted `aggregate(zip_with(...))` fold, ~10×
    * faster in the pair loop). */
  private def dotd(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  private def cosine(a: Column, b: Column): Column =
    dotd(a, b) / (sqrt(dotd(a, a)) * sqrt(dotd(b, b)))

  /** 16 fixed random hyperplanes (seeded — identical constants are embedded
    * in the oracle SQL string below). */
  private[ops] val hyperplanes: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(16)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Brute-force cosine top-5 for each query vector (vec_id < 5).
    * Norms are computed once per side BEFORE the join (same float ops, so
    * scores are unchanged — just not recomputed per pair). */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      sqrt(dotd(col("embedding"), col("embedding"))).as("c_norm"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("score",
        dotd(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("c_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Deterministic ≤[[EvalN]]-vector evaluation sample: the corpus ranked
    * by (md5(vec_id), vec_id) and cut — a seedless, engine-portable draw
    * that compiles to a distributed TakeOrdered at any corpus size. Every
    * brute-force evaluation arm (`sim_top_pairs`, `dd_embed_neardup`,
    * `sim_ann_recall`'s truth set) pairs WITHIN this sample, so its cost
    * is ≤ EvalN² REGARDLESS of corpus scale — the bound lives in the code,
    * not the fixture (the `dd_lsh_recall` posture; round-10 verdict #1/#2).
    * The production pair sources stay full-corpus and banded
    * (`dd_embed_neardup_ann`, `sim_lsh_buckets`, IVF/PQ). */
  private[ops] val EvalN = 512
  private def evalSample(e: DataFrame): DataFrame =
    e.orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(EvalN)

  /** The identical sample in DuckDB terms (shared into the oracle SQL). */
  private val sqlEvalSample =
    s"""ev AS MATERIALIZED (
       |  SELECT * FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 512)""".stripMargin

  /** Nearest pairs within the bounded eval sample: top-20 by cosine over
    * all (a < b) sample pairs — the exact brute-force baseline the ANN
    * arms are measured against. ≤ EvalN² pairs by construction. */
  def topPairs(s: SparkSession, d: String): DataFrame = {
    val e = evalSample(Tables.embeddings(s, d))
    val a = e
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("a_norm"))
    val b = e
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("b_norm"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dotd(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
          .as("score"))
      .orderBy(col("score").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Sign-random-projection LSH: 16-bit bucket signature per vector →
    * bucket histogram (the scale path for near-neighbor candidate
    * generation: map-only signatures, one groupBy). */
  /** Interpreted fold variant for mixed float/double arrays (hyperplane
    * literals are doubles; FloatDotProduct is float-only). Map-only use. */
  private def dotdFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def lshBuckets(s: SparkSession, d: String): DataFrame = {
    val bucket = hyperplanes.zipWithIndex.map { case (p, i) =>
      val lits = array(p.map(lit): _*)
      when(dotdFold(col("embedding"), lits) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.embeddings(s, d)
      .select(col("vec_id"), bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Per-label centroids via posexplode + a TWO-LEVEL chunked sorted fold:
    * values are grouped into fixed chunks of `vec_id div 256`, each chunk
    * value-sorted and left-folded, then the per-chunk sums are folded in
    * chunk order. Both levels have a deterministic float add order, so the
    * DuckDB twin reproduces the bits exactly (double→decimal casts are NOT
    * portable — Spark and DuckDB round the 12th decimal differently —
    * which rules out the order-free decimal-sum recipe here). Per-group
    * state is bounded: level 1 collects ≤ 256 doubles, level 2 collects
    * |vectors|/256 chunk sums — no group ever holds the raw vectors of a
    * hot label (the single-level collect_list form OOMs one task per hot
    * label at corpus scale). The shuffle-optimal order-FREE form is
    * [[graft.functions.VectorMeanAggregator]] (partial+final hash agg, one
    * |labels|×dim shuffle, reproducible-to-ulp), exercised in LlmSpec;
    * this query keeps the bit-deterministic formulation the oracle gate
    * requires. */
  def centroids(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), expr("vec_id div 256").as("chunk"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"), col("chunk"))
      .agg(
        aggregate(sort_array(collect_list(col("x").cast("double"))),
          lit(0.0), (a, v) => a + v).as("csum"),
        count(lit(1)).as("cn"))
      .groupBy(col("label"), col("pos"))
      .agg(
        (aggregate(
          transform(array_sort(collect_list(struct(col("chunk"), col("csum")))),
            t => t.getField("csum")),
          lit(0.0), (a, v) => a + v) / sum(col("cn"))).as("mean"),
        sum(col("cn")).as("n_vecs"))
      .orderBy(col("label"), col("pos"))

  /** Nearest-centroid classification EVAL — the confusion-matrix /
    * accuracy readout that closes the loop on the embedding tooling: per-
    * label centroids via the [[centroids]] two-level chunked fold
    * (bit-deterministic float means), folded into ONE broadcast row of
    * (label, centroid) structs, every vector assigned by `array_min` of
    * struct(L2², label) — MAP-ONLY over one corpus scan, the same argmin
    * idiom as [[kmeans]] — then a (label, pred) aggregate plus the
    * diagonal/total accuracy. All distances are IEEE folds in dim order
    * on agreed inputs, so the gate is exact unrounded. Scale: the
    * centroid table is k×dim broadcast; the corpus never shuffles for
    * assignment; the confusion matrix is ≤ k² rows. */
  def centroidEval(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val lvl1 = e.select(col("label"), expr("vec_id div 256").as("chunk"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .groupBy(col("label"), col("pos"), col("chunk"))
      .agg(aggregate(sort_array(collect_list(col("x"))),
        lit(0.0), (a, v) => a + v).as("csum"),
        count(lit(1)).as("cn"))
    val cent = lvl1.groupBy(col("label"), col("pos"))
      .agg((aggregate(
        transform(array_sort(collect_list(struct(col("chunk"), col("csum")))),
          t => t.getField("csum")),
        lit(0.0), (a, v) => a + v) / sum(col("cn"))).as("mean"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        t => t.getField("mean")).as("cent"))
    val centArr = cent.agg(array_sort(collect_list(
      struct(col("label").as("clabel"), col("cent")))).as("cents"))
    def l2sq(emb: Column, c: Column): Column =
      aggregate(zip_with(emb, c,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    val cm = e.crossJoin(broadcast(centArr))
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct(l2sq(col("embedding"), c.getField("cent")).as("dist"),
          c.getField("clabel").as("pred")))))
      .select(col("label"), col("best.pred").as("pred"))
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
    val acc = cm.agg(
      (coalesce(sum(when(col("label") === col("pred"), col("n"))), lit(0L))
        .cast("double") / sum(col("n")).cast("double")).as("accuracy"))
    cm.crossJoin(broadcast(acc))
      .select(col("label"), col("pred").cast("int").as("pred"), col("n"),
        col("accuracy"))
      .orderBy(col("label"), col("pred"))
  }

  /** Per-dimension FEATURE STANDARDIZATION (z-score scaling) — the
    * preprocessing step in front of k-means / PCA / distance search when
    * dimensions carry different scales: per-dim mean and std over the
    * whole corpus, then x → (x − μ)/σ. Both moments use the
    * [[centroids]] two-level chunked sorted fold (bounded per-group
    * state, deterministic float add order — the key to a bit-exact cross-
    * engine gate on float data), the second moment folding x² with the
    * identical chunking; σ = √(E[x²] − μ²) and the rescale are IEEE ops
    * on agreed operands (sqrt is correctly rounded everywhere). Scale:
    * moments are 64 rows broadcast back over the corpus — the rescale
    * itself is MAP-ONLY; the gate emits a deterministic vec_id sample so
    * the dump stays small while the stats cover every row. */
  def standardize(s: SparkSession, d: String): DataFrame = {
    val lvl1 = Tables.embeddings(s, d)
      .select(expr("vec_id div 256").as("chunk"),
        posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .groupBy(col("pos"), col("chunk"))
      .agg(
        aggregate(sort_array(collect_list(col("x"))),
          lit(0.0), (a, v) => a + v).as("csum"),
        aggregate(sort_array(collect_list(col("x") * col("x"))),
          lit(0.0), (a, v) => a + v).as("csq"),
        count(lit(1)).as("cn"))
    def lvl2(c: String): Column =
      aggregate(
        transform(array_sort(collect_list(struct(col("chunk"), col(c)))),
          t => t.getField(c)),
        lit(0.0), (a, v) => a + v) / sum(col("cn"))
    val stats = lvl1.groupBy(col("pos"))
      .agg(lvl2("csum").as("mean"), lvl2("csq").as("msq"))
      .withColumn("std", sqrt(col("msq") - col("mean") * col("mean")))
    Tables.embeddings(s, d)
      .filter(col("vec_id") % 211 === 0)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .join(broadcast(stats), Seq("pos"))
      .select(col("vec_id"), col("pos").cast("int").as("pos"), col("x"),
        col("mean"), col("std"),
        ((col("x") - col("mean")) / col("std")).as("z"))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** Distributed Lloyd's k-means over the embedding corpus — the codebook
    * TRAINING step the IVF/PQ queries' data-seeded codebooks stand in for.
    * k = 8 seeds (vec_id < 8), two full assign→update iterations, then the
    * final assignment is emitted. Every stage is the scale shape a 100 TB
    * run needs: assignment folds the k×dim centroid table into ONE
    * broadcast row (array of struct(cid, cent)) and takes the per-vector
    * `array_min` of struct(dist, cid) — MAP-ONLY over one corpus scan, no
    * per-vector shuffle/window, with the identical (dist asc, cid asc)
    * argmin tie-break the rank-window form had (struct comparison is
    * field-lexicographic) and the identical IEEE fold per distance;
    * the centroid update is the [[centroids]] two-level chunked sorted
    * fold per (cid, dim) — bounded per-group state AND a deterministic
    * float add order, which is what lets a DuckDB recursive-CTE-style
    * oracle reproduce every iteration bit-exactly (L2² distances are pure
    * IEEE folds in dim order on agreed inputs). Iterations are a driver
    * loop over lazy plans — nothing materializes until the caller's
    * action; an empty cluster simply drops out of the centroid table on
    * both engines. */
  def kmeans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    def l2sq(emb: Column, cent: Column): Column =
      aggregate(zip_with(emb, cent,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v)
    def assign(cent: DataFrame): DataFrame = {
      val centArr = cent.agg(
        array_sort(collect_list(struct(col("cid"), col("cent")))).as("cents"))
      e.crossJoin(broadcast(centArr))
        .withColumn("best", array_min(transform(col("cents"), c =>
          struct(l2sq(col("embedding"), c.getField("cent")).as("dist"),
            c.getField("cid").as("cid")))))
        .select(col("vec_id"), col("embedding"),
          col("best").getField("cid").as("cid"),
          col("best").getField("dist").as("dist"))
    }
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), expr("vec_id div 256").as("chunk"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"), col("chunk"))
        .agg(aggregate(sort_array(collect_list(col("x").cast("double"))),
          lit(0.0), (a, v) => a + v).as("csum"),
          count(lit(1)).as("cn"))
        .groupBy(col("cid"), col("pos"))
        .agg((aggregate(
          transform(array_sort(collect_list(struct(col("chunk"), col("csum")))),
            t => t.getField("csum")),
          lit(0.0), (a, v) => a + v) / sum(col("cn"))).as("mean"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
          t => t.getField("mean")).as("cent"))
    var cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("cent"))
    for (_ <- 1 to 2) cent = update(assign(cent))
    assign(cent)
      .select(col("vec_id"), col("cid"), col("dist"))
      .orderBy(col("vec_id"))
  }

  /** Vector norms + self-similarity sanity — map-only battery. */
  def norms(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("l2_norm"),
        size(col("embedding")).as("dim"))
      .orderBy(col("vec_id"))
  }

  /** IVF-style ANN (the other scale path besides LSH): a deterministic
    * coarse codebook (vectors with vec_id < 8 — k-means centroids in a real
    * pipeline; data-seeded here so the oracle can derive the identical
    * codebook), every vector assigned to its best cell by dot product, each
    * query probing its nprobe=2 best cells and ranking only those
    * candidates. Cells ≈ |corpus|/8, so probe cost is ~1/4 of brute force
    * at nprobe=2 and the assignment is one broadcast join — the inverted-
    * file layout that carries to 100 TB (cells become partitions).
    *
    * The corpus-side cell assignment is MAP-ONLY: the k-row codebook folds
    * into one broadcast row (array of struct(cid, c_emb)) and each vector
    * takes `array_min` of struct(-cdot, cid) — argmax by dot with the
    * identical (cdot desc, cid asc) tie-break the rank-window form had
    * (IEEE negation is exact, struct comparison field-lexicographic), so
    * the corpus is never shuffled for its assignment. The nprobe=2 probe
    * side keeps the rank window — the query set is small by definition. */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    def bestCells(src: DataFrame, idCol: String, embCol: String, n: Int) = {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cdot").desc, col("cid"))
      src.join(broadcast(cent), col(idCol) =!= lit(-1))
        .withColumn("cdot", dotd(col(embCol), col("c_emb")))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .drop("c_emb", "cdot")
    }
    val centArr = cent.agg(
      array_sort(collect_list(struct(col("cid"), col("c_emb")))).as("cents"))
    val assign = e.select(col("vec_id"), col("embedding"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("nrm"))
      .crossJoin(broadcast(centArr))
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct((-dotd(col("embedding"), c.getField("c_emb"))).as("negdot"),
          c.getField("cid").as("cid")))))
      .select(col("best").getField("cid").as("cell"),
        col("vec_id").as("c_id"), col("embedding").as("c_emb2"),
        col("nrm").as("c_norm"))
    val probes = bestCells(
      e.filter(col("vec_id").between(10, 14))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sqrt(dotd(col("embedding"), col("embedding"))).as("q_norm")),
      "q_id", "q_emb", 2)
      .select(col("cid").as("cell"), col("q_id"), col("q_emb"), col("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    probes.join(assign, "cell")
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score",
        dotd(col("q_emb"), col("c_emb2")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("c_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023
    * pattern): partition the corpus into k coarse cells, then search for
    * near-duplicate pairs ONLY within a cell — the quadratic pair cost
    * drops from |corpus|² to Σ|cell|², i.e. ~1/k for balanced cells, and
    * each cell's pair join is an equi-join on the cell id, so at 100 TB
    * every cell is an independent shuffle partition (no all-pairs stage
    * anywhere). Cell assignment is the same map-only broadcast argmax as
    * [[ivfTopK]] (k-row codebook folded into one broadcast array row —
    * data-seeded vec_id < 8 here standing in for [[kmeans]] output, which
    * is what a production run would feed in). Dedup policy: any vector
    * whose cosine to a LOWER-id vector in its cell exceeds τ = 0.45 is
    * flagged a duplicate (lower id = canonical representative — the same
    * keep-min rule as `dd_exact`). Emits every vector with its cell and
    * flag so the decision, not just the survivor count, is oracle-checked.
    * The map-only assignment subtree is evaluated once per join side;
    * that re-scan is two cheap map passes, while the within-cell pair
    * join dominates — at scale you would checkpoint the assignment. */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
    val centArr = cent.agg(
      array_sort(collect_list(struct(col("cid"), col("c_emb")))).as("cents"))
    val assign = e.select(col("vec_id"), col("embedding"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("nrm"))
      .crossJoin(broadcast(centArr))
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct((-dotd(col("embedding"), c.getField("c_emb"))).as("negdot"),
          c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("best").getField("cid").as("cell"))
    val a = assign.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = assign.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(dotd(col("a_emb"), col("b_emb")) /
        (col("a_nrm") * col("b_nrm")) > 0.45)
      .select(col("b_id").as("vec_id"))
      .distinct()
    assign
      .join(dups.withColumn("is_dup", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(0)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-cosine near-dup baseline (the dedup-by-embedding eval arm):
    * the 10 closest pairs of the bounded [[evalSample]] become (keep, dup)
    * decisions — keep the smaller id. Emitted threshold-free (top-10) so
    * the query is scale-robust; the production pair source is the banded
    * `dd_embed_neardup_ann` (LSH buckets over the FULL corpus), which this
    * capped brute-force arm exists to sanity-check. */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame =
    topPairs(s, d)
      .limit(10)
      .select(col("a_id").as("keep_id"), col("b_id").as("dup_id"),
        col("score"))
      .orderBy(col("score").desc, col("keep_id"), col("dup_id"))

  /** The two independent 6-plane SRP band tables used by the ANN near-dup
    * and its recall monitor: table 0 = planes 0-5, table 1 = planes 6-11
    * of the seeded set. 6 planes per table (64 buckets) tunes per-table
    * recall at this corpus's mid-similarity truth pairs (cos ≈ 0.4-0.5) to
    * ~7%, so the two-table OR roughly doubles it — measurable lift —
    * while a random pair still collides only ~1.6% per table. Both are
    * map-only bucket signatures. */
  private def bucketCol(planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val lits = array(p.map(lit): _*)
      when(dotdFold(col("embedding"), lits) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, embedding, nrm, bucket0, bucket1). */
  private def srpSignaturesOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      sqrt(dotd(col("embedding"), col("embedding"))).as("nrm"),
      bucketCol(hyperplanes.slice(0, 6)).as("bucket0"),
      bucketCol(hyperplanes.slice(6, 12)).as("bucket1"))

  private def srpSignatures(s: SparkSession, d: String): DataFrame =
    srpSignaturesOf(Tables.embeddings(s, d))

  /** ANN-candidate near-dup (the production-shape pair source the
    * brute-force `dd_embed_neardup` is the baseline for): candidates are
    * pairs sharing a 6-plane sign-random-projection bucket in EITHER of
    * two independent band tables (multi-table LSH amplification) — map-only
    * signatures + one per-bucket join per table + a distinct union, NO
    * all-pairs scan — then reranked by exact cosine and the top-10 emitted
    * as (keep, dup) decisions. 6 planes per table keep per-table
    * mid-similarity recall real (a cos≈0.45 pair collides w.p. (1−θ/π)⁶ ≈
    * 7% per table); OR-ing the second table nearly doubles it
    * (1−(1−p)² ≈ 2p) while random-pair collisions stay ~1.6% — the
    * measured lift is the `sim_ann_recall` monitor's row. Oracle-exact:
    * the hyperplanes are seeded constants shared into the oracle SQL, so
    * DuckDB derives identical buckets, and both branches compute the
    * identical IEEE score, so the distinct-union dedups exactly. */
  def embeddingNearDupAnn(s: SparkSession, d: String): DataFrame = {
    val sig = srpSignatures(s, d)
    def tableJoin(bucket: String): DataFrame = {
      val a = sig.select(col(bucket).as("bkt"), col("vec_id").as("keep_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_norm"))
      val b = sig.select(col(bucket).as("bkt"), col("vec_id").as("dup_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_norm"))
      a.join(b, Seq("bkt"))
        .filter(col("keep_id") < col("dup_id"))
        .select(col("keep_id"), col("dup_id"),
          (dotd(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
            .as("score"))
    }
    tableJoin("bucket0").unionByName(tableJoin("bucket1"))
      .distinct()
      .orderBy(col("score").desc, col("keep_id"), col("dup_id"))
      .limit(10)
  }

  /** Multi-table LSH recall monitor (the embedding twin of
    * `dd_lsh_recall`): ground truth = the top-50 exact-cosine pairs of the
    * ≤[[EvalN]]-vector deterministic sample; each truth pair is checked
    * for a bucket collision in band table 0 alone vs either of the two
    * tables. The row quantifies the amplification: recall_2t ≈ 1−(1−p)²
    * vs recall_1t ≈ p. The truth join pairs only within [[evalSample]] —
    * ≤ EvalN² work in code at ANY corpus size, never corpus × corpus;
    * signatures ride along in the same sampled scan, so no second pass. */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val sig = srpSignaturesOf(evalSample(Tables.embeddings(s, d)))
    val a = sig.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("nrm").as("a_norm"), col("bucket0").as("a_b0"), col("bucket1").as("a_b1"))
    val b = sig.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("nrm").as("b_norm"), col("bucket0").as("b_b0"), col("bucket1").as("b_b1"))
    val truth = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_b0"), col("a_b1"),
        col("b_b0"), col("b_b1"),
        (dotd(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
          .as("score"))
      .orderBy(col("score").desc, col("a_id"), col("b_id"))
      .limit(50)
    truth.agg(
      count(lit(1)).as("n_true"),
      sum(when(col("a_b0") === col("b_b0"), 1L).otherwise(0L)).as("caught_1t"),
      sum(when(col("a_b0") === col("b_b0") || col("a_b1") === col("b_b1"), 1L)
        .otherwise(0L)).as("caught_2t"))
      .select(col("n_true"), col("caught_1t"), col("caught_2t"),
        (col("caught_1t").cast("double") / col("n_true")).as("recall_1t"),
        (col("caught_2t").cast("double") / col("n_true")).as("recall_2t"))
      .orderBy(col("n_true"))
  }

  /** Product-quantization ANN (the memory-compressed scale path, after LSH
    * and IVF): 64 dims split into m=4 subspaces × 16 dims; a deterministic
    * per-subspace codebook (sub-vectors of vec_id < 4 — k-means in a real
    * pipeline, data-seeded here so the oracle derives it); every vector
    * compressed to 4 small codes (nearest centroid per subspace by L2);
    * queries scored by asymmetric distance — a per-query lookup table of
    * (subspace, centroid) dot products, summed over the stored codes. At
    * 100 TB the codes table is ~1/64th the corpus bytes and the LUT is
    * O(m × k) per query: scoring never touches raw vectors. Scores sum via
    * sorted fold → bit-identical to the DuckDB twin. */
  def pqTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = 4; val w = 16
    val e = Tables.embeddings(s, d)
    def subs(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        posexplode(array((0 until m).map(j => slice(col("embedding"), j * w + 1, w)): _*))
          .as(Seq("j", "sub")))
    val cent = subs(e.filter(col("vec_id") < 4))
      .select(col("j"), col("vec_id").cast("int").as("cid"), col("sub").as("cent"))
    def l2sq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    val wv = Window.partitionBy(col("vec_id"), col("j"))
      .orderBy(col("dist").asc, col("cid"))
    val codes = subs(e).join(broadcast(cent), "j")
      .withColumn("dist", l2sq(col("sub"), col("cent")))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("vec_id").as("c_id"), col("j"), col("cid").as("code"))
    val lut = subs(e.filter(col("vec_id").between(10, 14)))
      .select(col("vec_id").as("q_id"), col("j").as("qj"), col("sub").as("q_sub"))
      .join(broadcast(cent), col("qj") === col("j"))
      .select(col("q_id"), col("qj"), col("cid"),
        dotd(col("q_sub"), col("cent")).as("pdot"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))
    codes.join(broadcast(lut),
        codes("j") === lut("qj") && codes("code") === lut("cid"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(aggregate(array_sort(collect_list(col("pdot"))),
        lit(0.0), (a, v) => a + v).as("score"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("c_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-PQ — the composite production ANN index (FAISS's workhorse),
    * assembled from the repo's two halves: an IVF coarse quantizer (4
    * data-seeded cells, min-L2 assignment) and PRODUCT QUANTIZATION ON
    * THE RESIDUALS (emb − cell centroid; 4 subspaces × 16 dims, 4-entry
    * data-seeded codebooks). Queries probe the 2 nearest cells; per
    * probed cell the score is the asymmetric-distance decomposition
    * q·c ≈ q·centroid + Σⱼ LUT[j, codeⱼ] where the LUT holds the QUERY
    * RESIDUAL's sub-dots against the codebook — one tiny broadcast per
    * query, map-only scoring of only the probed cells' codes. At 100 TB:
    * vectors are stored as 4 small codes + a cell id (32× compression),
    * the scan touches nprobe/k of the corpus, and cells/codebooks come
    * from k-means ([[kmeans]]) instead of data seeds. Residual sums fold
    * value-sorted so the doubles are engine-identical. */
  def ivfPqTopK(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val cells = e.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cell"), col("emb").as("cent"))
    val queries = e.filter(col("vec_id").between(10, 14))
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    // The whole index+search is the PUBLIC RetrievalPipeline (api package)
    // at default config — this gate hash-checks the API path itself.
    new graft.api.RetrievalPipeline().searchTopK(
      e, cells, col("vec_id").between(4, 7), queries)
  }

  /** SPARSE retrieval (SPLADE/BM25-style mechanics over dense fixtures):
    * each vector keeps only its 8 dominant |value| dimensions, stored as
    * (dim, value) POSTINGS; query–candidate scores are partial dot
    * products summed over SHARED dims only, met through one equi-join on
    * the dimension — the inverted-index plan, never all-pairs. This is
    * the third retrieval mode next to dense brute/IVF-PQ and the
    * term-match [[graft.ops.Joins.invertedIndexJoin]]: at 100 TB postings
    * are linear in nnz, the join keys on dim (posting-list length is the
    * skew knob — cap or impact-sort real SPLADE lists), and queries
    * broadcast. Product sums fold value-sorted for engine parity. */
  def sparseTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("vec_id"))
      .orderBy(abs(col("v")).desc, col("dim"))
    val sparse = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "v0")))
      .select(col("vec_id"), (col("dim0") + 1).as("dim"),
        col("v0").cast("double").as("v"))
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= 8)
      .select(col("vec_id"), col("dim"), col("v"))
    val posts = sparse
      .select(col("vec_id").as("c_id"), col("dim"), col("v").as("cv"))
    val qs = sparse.filter(col("vec_id") % 211 === 0)
      .select(col("vec_id").as("q_id"), col("dim"), col("v").as("qv"))
    val wT = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    posts.join(broadcast(qs), Seq("dim"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(count(lit(1)).as("n_shared"),
        aggregate(array_sort(collect_list(col("qv") * col("cv"))),
          lit(0.0), (a, v) => a + v).as("score"))
      .withColumn("rank", row_number().over(wT))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("c_id"), col("n_shared"),
        col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Top principal direction by distributed POWER ITERATION (2 fixed
    * iterations on the uncentered second-moment matrix A = XᵀX/n). The
    * d×d covariance is never materialized: each iteration computes
    * A·v as x_i·⟨x_i, v⟩ summed over rows — a map (per-row dot against the
    * broadcast 1-row v), a (pos, chunk) partial fold, a (pos) final fold,
    * and a 1-row normalize; every fold is ordered (vec_id within chunk,
    * chunk within pos, pos within the norm) so the doubles are
    * bit-identical to the unrolled DuckDB oracle. Per-iteration cost is
    * one corpus scan regardless of n — the classic out-of-core PCA step;
    * more components would deflate-and-repeat. Emits the loading vector
    * and the eigenvalue estimate λ = ‖A·v₁‖ (v₁ unit-norm). */
  def pcaPower(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), y => y.cast("double")).as("x"))
    val n = x.agg(count(lit(1)).as("n"))
    var v = x.limit(1).select(transform(col("x"), _ => lit(1.0)).as("v"))
    var lastNorm: DataFrame = null
    var lastAv: DataFrame = null
    for (_ <- 1 to 2) {
      val scored = x.crossJoin(broadcast(v))
        .select(col("vec_id"), col("x"),
          aggregate(zip_with(col("x"), col("v"), (a, b) => a * b),
            lit(0.0), (a, b) => a + b).as("s"))
      val pc = scored
        .select(col("vec_id"), col("s"), posexplode(col("x")))
        .select(col("vec_id"), col("pos"), (col("col") * col("s")).as("c"),
          expr("vec_id div 256").as("chunk"))
      val perPos = pc
        .groupBy(col("pos"), col("chunk"))
        .agg(aggregate(array_sort(collect_list(struct(col("vec_id"), col("c")))),
          lit(0.0), (a, t) => a + t.getField("c")).as("cs"))
        .groupBy(col("pos"))
        .agg(aggregate(array_sort(collect_list(struct(col("chunk"), col("cs")))),
          lit(0.0), (a, t) => a + t.getField("cs")).as("av0"))
      val av = perPos.crossJoin(broadcast(n))
        .select(col("pos"), (col("av0") / col("n").cast("double")).as("av"))
      val norm = av.agg(sqrt(aggregate(
        array_sort(collect_list(struct(col("pos"), (col("av") * col("av")).as("q")))),
        lit(0.0), (a, t) => a + t.getField("q"))).as("nv"))
      lastAv = av; lastNorm = norm
      v = av.crossJoin(broadcast(norm))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), (col("av") / col("nv")).as("u")))),
          t => t.getField("u")).as("v"))
    }
    lastAv.crossJoin(broadcast(lastNorm))
      .select(col("pos"), (col("av") / col("nv")).as("loading"),
        col("nv").as("lambda"))
      .orderBy(col("pos"))
  }

  /** Radius (range) search: every corpus vector within a cosine threshold
    * of each query — the retrieval twin of top-k (top-k bounds count,
    * range search bounds similarity). Exact baseline form: the 3-row query
    * set broadcasts, the corpus side stays map-only, and the threshold
    * comparison is on bit-identical scores (same sequential dot fold as
    * the oracle), so the cut is deterministic. The scale path for large
    * query sets is the LSH/IVF bucketing above — same contract, bucketed
    * candidates instead of the full corpus. */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      sqrt(dotd(col("embedding"), col("embedding"))).as("c_norm"))
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("score",
        dotd(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .filter(col("score") >= 0.1)
      .select(col("q_id"), col("c_id"), col("score"))
      .orderBy(col("q_id"), col("c_id"))
  }

  /** Per-vector symmetric int8 quantization (the 4× memory-reduction step
    * before ANN at 100 TB: float32 → int8 codes + one scale per vector).
    * Row-local and map-only: scale = max|x|, code = ⌊127·x/scale + 0.5⌋.
    * floor(+0.5) is used instead of round() because Spark HALF_UP and
    * DuckDB round-half-away disagree on negative halves; floor/×/÷ are all
    * IEEE-exact so codes are bit-identical. Codes emit as a joined string
    * (array hashing is driver-dialect-sensitive; the string is not). */
  def quantizeInt8(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("scale",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .filter(col("scale") > 0)
      .withColumn("codes", transform(col("embedding"),
        x => floor(x.cast("double") * lit(127.0) / col("scale") + lit(0.5))
          .cast("int").cast("string")))
      .select(col("vec_id"), col("label"),
        array_join(col("codes"), "|").as("codes"))
      .orderBy(col("vec_id"))

  /** k-NN graph construction (k=3) from multi-table LSH candidates — the
    * precursor structure for NN-descent refinement, graph-based ANN
    * serving, and density-based dedup clustering. Candidates are pairs
    * sharing an SRP bucket in either band table (distinct union — same
    * amplification as `dd_embed_neardup_ann`); each vector ranks only its
    * candidates by exact cosine and keeps the top 3. Never all-pairs: cost
    * is Σ|bucket|² per table, and bucket width (planes per table) is the
    * knob that holds |bucket| bounded as the corpus grows. */
  def knnGraph(s: SparkSession, d: String): DataFrame = {
    val sig = srpSignatures(s, d)
    def tableJoin(bucket: String): DataFrame = {
      val a = sig.select(col(bucket).as("bkt"), col("vec_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_norm"))
      val b = sig.select(col(bucket).as("bkt"), col("vec_id").as("nb_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_norm"))
      a.join(b, Seq("bkt"))
        .filter(col("vec_id") =!= col("nb_id"))
        .select(col("vec_id"), col("nb_id"),
          (dotd(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")))
            .as("score"))
    }
    import org.apache.spark.sql.expressions.Window
    val cand = tableJoin("bucket0").unionByName(tableJoin("bucket1")).distinct()
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("nb_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("rank"), col("nb_id"), col("score"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** One NN-descent refinement round over [[knnGraph]] — the step that
    * completes the graph-ANN story: "my neighbors' neighbors are probably
    * my neighbors". The current graph is undirected (out-edges plus
    * REVERSE edges capped at 3 per node — the cap is what bounds a hot
    * node's fan-in, and with it the whole round: ≤ 6 adjacency edges per
    * node, so ≤ 36 neighbor-of-neighbor candidates). Candidates =
    * distinct(adjacency ∪ adjacency⋈adjacency on the middle node), scored
    * by exact cosine via two equi-joins to the embeddings, re-top-3. All
    * joins are keyed, never all-pairs; recall lift over the SRP-only graph
    * is measured by [[knnRecall]]. */
  def knnDescent(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Lazy checkpoints: the SRP bucket-join graph feeds both the forward
    // and reverse edge sets, and the adjacency self-joins — materialize
    // each once on the first action (bpeMerges idiom, CacheHygiene-scoped).
    val g3 = knnGraph(s, d).select(
      col("vec_id").as("u"), col("nb_id").as("v"), col("score"))
      .localCheckpoint(false)
    val wRev = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("v"))
    val rev = g3.select(col("v").as("u"), col("u").as("v"), col("score"))
      .withColumn("rk", row_number().over(wRev))
      .filter(col("rk") <= 3)
      .select(col("u"), col("v"))
    val adj = g3.select(col("u"), col("v")).unionByName(rev).distinct()
      .localCheckpoint(false)
    val non = adj.as("x").join(adj.as("y"), col("x.v") === col("y.u"))
      .filter(col("x.u") =!= col("y.v"))
      .select(col("x.u").as("u"), col("y.v").as("w"))
    val cands = non
      .unionByName(adj.select(col("u"), col("v").as("w")))
      .distinct()
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), sqrt(dotd(col("embedding"), col("embedding"))).as("nrm"))
    val wTop = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("w"))
    cands
      .join(e.select(col("vec_id").as("u"), col("embedding").as("u_emb"),
        col("nrm").as("u_nrm")), Seq("u"))
      .join(e.select(col("vec_id").as("w"), col("embedding").as("w_emb"),
        col("nrm").as("w_nrm")), Seq("w"))
      .select(col("u"), col("w"),
        (dotd(col("u_emb"), col("w_emb")) / (col("u_nrm") * col("w_nrm")))
          .as("score"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .select(col("u").as("vec_id"), col("rank"), col("w").as("nb_id"),
        col("score"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Recall monitor for the NN-descent round: for a bounded deterministic
    * node sample (the md5-ranked ≤64 cut of the vec_id % 7 = 0 subset —
    * FIXED-SIZE in code, so the broadcast truth join stays sample × corpus
    * = linear at any scale; a bare modulo sample would grow as corpus/7
    * and is exactly what the hint-measured theta audit now rejects), the
    * TRUE top-3 by exact cosine, then the fraction of truth edges present
    * in the SRP-only graph vs the descended graph. One output row;
    * recall_desc − recall_base is the lift the expansion round buys. At
    * sf0.001 the % 7 subset is 72 nodes, so the 64-cap already selects a
    * strict subset — the bound is proven engaged at every fixture. */
  def knnRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), sqrt(dotd(col("embedding"), col("embedding"))).as("nrm"))
    val sample = e.filter(col("vec_id") % 7 === 0)
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(64)
      .select(col("vec_id").as("u"), col("embedding").as("u_emb"),
        col("nrm").as("u_nrm"))
    val sampleIds = sample.select(col("u"))
    val wT = Window.partitionBy(col("u"))
      .orderBy(col("score").desc, col("w"))
    val truth = e.select(col("vec_id").as("w"), col("embedding").as("w_emb"),
      col("nrm").as("w_nrm"))
      .join(broadcast(sample), col("u") =!= col("w"))
      .select(col("u"), col("w"),
        (dotd(col("u_emb"), col("w_emb")) / (col("u_nrm") * col("w_nrm")))
          .as("score"))
      .withColumn("rk", row_number().over(wT))
      .filter(col("rk") <= 3)
      .select(col("u"), col("w"))
    val base = knnGraph(s, d)
      .select(col("vec_id").as("u"), col("nb_id").as("w"), lit(1L).as("in_base"))
      .join(broadcast(sampleIds), Seq("u"), "left_semi")
    val desc = knnDescent(s, d)
      .select(col("vec_id").as("u"), col("nb_id").as("w"), lit(1L).as("in_desc"))
      .join(broadcast(sampleIds), Seq("u"), "left_semi")
    truth
      .join(base, Seq("u", "w"), "left")
      .join(desc, Seq("u", "w"), "left")
      .agg(
        countDistinct(col("u")).as("n_nodes"),
        count(lit(1)).as("n_truth"),
        sum(coalesce(col("in_base"), lit(0L))).as("hit_base"),
        sum(coalesce(col("in_desc"), lit(0L))).as("hit_desc"))
      .select(col("n_nodes"), col("n_truth"), col("hit_base"), col("hit_desc"),
        (col("hit_base").cast("double") / col("n_truth").cast("double"))
          .as("recall_base"),
        (col("hit_desc").cast("double") / col("n_truth").cast("double"))
          .as("recall_desc"))
      .orderBy(col("n_truth"))
  }

  /** MMR-diversified retrieval: brute cosine top-20 per query (broadcast
    * query set, map-only scoring — same shape as [[cosineTopK]]), then the
    * greedy Maximal-Marginal-Relevance pick of 5 diverse results via the
    * typed [[graft.functions.MmrAggregator]]. The aggregation group is the
    * BOUNDED top-20 candidate list, never the corpus — per-group state is
    * O(20·dim) at any scale, and the sequential greedy loop runs only over
    * that bounded set (the same bounded-group contract as the rolling
    * median / argmax aggregates). Rows-only: greedy MMR isn't reasonably
    * SQL-expressible; pinned against an independent reference
    * implementation in Round8Spec. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") % 251 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      sqrt(dotd(col("embedding"), col("embedding"))).as("c_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("c_id"))
    val mmr = udaf(graft.functions.MmrAggregator,
      ExpressionEncoder[graft.functions.MmrCand]())
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("rel",
        dotd(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .groupBy(col("q_id"))
      .agg(mmr(col("c_id"), col("rel"), col("c_emb")).as("picks"))
      .select(col("q_id"), explode(col("picks")).as("p"))
      .select(col("q_id"), col("p.rank").as("rank"),
        col("p.cand_id").as("cand_id"), col("p.mmr_score").as("mmr_score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Matryoshka / adaptive-dimension retrieval: rank the corpus by a
    * 16-dim PREFIX dot product first (MRL embeddings front-load
    * information, so the prefix is a cheap usable score — and at 100 TB
    * the stage-1 scan reads 1/4 of the vector bytes; with dimension-
    * sliced storage, only the prefix columns), keep the top-20, then
    * rerank ONLY those 20 with the full 64-dim cosine for the final
    * top-5. Same broadcast-query/map-only shape as [[cosineTopK]]; the
    * stage-2 window is over 20 rows per query. Both stages' folds are
    * sequential and shared with the oracle, so scores are bit-exact. */
  def matryoshkaTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") % 211 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        slice(col("embedding"), 1, 16).as("q_pre"),
        sqrt(dotd(col("embedding"), col("embedding"))).as("q_norm"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
      slice(col("embedding"), 1, 16).as("c_pre"),
      sqrt(dotd(col("embedding"), col("embedding"))).as("c_norm"))
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("pre_score").desc, col("c_id"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("pre_score", dotd(col("q_pre"), col("c_pre")))
      .withColumn("pre_rank", row_number().over(w1))
      .filter(col("pre_rank") <= 20)
      .withColumn("score",
        dotd(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("c_id"), col("pre_rank"),
        col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** DuckDB twin of `dotd(a, b)` (same sequential fold). */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc, x) -> acc + x)"

  private def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  private def sqlPlane(p: Array[Double]): String =
    p.map(_.toString).mkString("[", ", ", "]")

  private val sqlBucket: String = hyperplanes.zipWithIndex.map { case (p, i) =>
    s"(CASE WHEN list_reduce(list_transform(generate_series(1, 64), " +
      s"i -> CAST(embedding[i] AS DOUBLE) * (${sqlPlane(p)})[i]), " +
      s"(acc, x) -> acc + x) >= 0 THEN ${1L << i} ELSE 0 END)"
  }.mkString(" + ")

  private def sqlBucketOf(planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_reduce(list_transform(generate_series(1, 64), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * (${sqlPlane(p)})[i]), " +
        s"(acc, x) -> acc + x) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  private val sqlBucketT0: String = sqlBucketOf(hyperplanes.slice(0, 6))
  private val sqlBucketT1: String = sqlBucketOf(hyperplanes.slice(6, 12))

  /** Shared CTE chain for the kNN-graph family: SRP signatures → bucket
    * candidates → top-3 graph (g3) → capped reverse edges → undirected
    * adjacency → neighbor-of-neighbor expansion → rescored descent graph
    * (dsc). Mirrors [[knnGraph]]/[[knnDescent]] exactly, tiebreaks
    * included. */
  private lazy val sqlKnnCtes: String =
    s"""sig AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
       |    $sqlBucketT0 AS bucket0, $sqlBucketT1 AS bucket1
       |  FROM embeddings),
       |cand AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
       |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
       |  FROM sig a JOIN sig b
       |    ON a.bucket0 = b.bucket0 AND a.vec_id <> b.vec_id
       |  UNION
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
       |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
       |  FROM sig a JOIN sig b
       |    ON a.bucket1 = b.bucket1 AND a.vec_id <> b.vec_id),
       |g3 AS (SELECT vec_id AS u, nb_id AS v, score FROM (
       |  SELECT vec_id, nb_id, score, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, nb_id) AS rank FROM cand) t WHERE rank <= 3),
       |rev AS (SELECT nu AS u, nv AS v FROM (
       |  SELECT v AS nu, u AS nv, row_number() OVER (PARTITION BY v
       |    ORDER BY score DESC, u) AS rk FROM g3) t WHERE rk <= 3),
       |adj AS (SELECT DISTINCT u, v FROM (
       |  SELECT u, v FROM g3 UNION ALL SELECT u, v FROM rev) t),
       |nn AS (SELECT x.u AS u, y.v AS w FROM adj x JOIN adj y ON x.v = y.u
       |  WHERE x.u <> y.v),
       |cands AS (SELECT DISTINCT u, w FROM (
       |  SELECT u, w FROM nn UNION ALL SELECT u, v AS w FROM adj) t),
       |dsc AS (SELECT u, w, score, row_number() OVER (PARTITION BY u
       |    ORDER BY score DESC, w) AS rank FROM (
       |  SELECT c.u AS u, c.w AS w,
       |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
       |  FROM cands c JOIN sig a ON a.vec_id = c.u
       |  JOIN sig b ON b.vec_id = c.w) s)""".stripMargin

  private def pcaIter(vPrev: String, k: Int): String =
    s"""sc$k AS (SELECT vec_id, x, list_reduce(list_prepend(0.0,
       |    [x[i] * v[i] for i in range(1, len(x)+1)]), (a,b) -> a + b) AS s
       |  FROM X CROSS JOIN $vPrev),
       |pc$k AS (SELECT vec_id, i - 1 AS pos, (x[i] * s) AS c,
       |    vec_id // 256 AS chunk
       |  FROM sc$k, unnest(range(1, len(x)+1)) AS t(i)),
       |ck$k AS (SELECT pos, chunk, list_reduce(list_prepend(0.0,
       |    list(c ORDER BY vec_id)), (a,b) -> a + b) AS cs
       |  FROM pc$k GROUP BY pos, chunk),
       |pp$k AS (SELECT pos, list_reduce(list_prepend(0.0,
       |    list(cs ORDER BY chunk)), (a,b) -> a + b) AS av
       |  FROM ck$k GROUP BY pos),
       |av$k AS (SELECT pos, (av / CAST(n AS DOUBLE)) AS av
       |  FROM pp$k CROSS JOIN n),
       |nm$k AS (SELECT sqrt(list_reduce(list_prepend(0.0,
       |    list((av * av) ORDER BY pos)), (a,b) -> a + b)) AS nv FROM av$k)"""
      .stripMargin

  override def catalog: Seq[Query] = Seq(
    Query("vec_pca_power", pcaPower, Some(
      s"""WITH X AS (SELECT vec_id,
         |    list_transform(embedding, y -> CAST(y AS DOUBLE)) AS x
         |  FROM embeddings),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM X),
         |v0 AS (SELECT list_transform(x, y -> 1.0) AS v FROM X LIMIT 1),
         |${pcaIter("v0", 1)},
         |v1 AS (SELECT list(av / nv ORDER BY pos) AS v
         |  FROM av1 CROSS JOIN nm1),
         |${pcaIter("v1", 2)}
         |SELECT CAST(pos AS INT) AS pos, (av / nv) AS loading, nv AS lambda
         |FROM av2 CROSS JOIN nm2 ORDER BY pos""".stripMargin)),
    Query("sim_pq_topk", pqTopK, Some(
      """WITH sub AS (
        |  SELECT vec_id, j, embedding[j*16+1 : j*16+16] AS sub
        |  FROM embeddings CROSS JOIN range(0, 4) r(j)),
        |cent AS (
        |  SELECT j, CAST(vec_id AS INT) AS cid, sub AS cent
        |  FROM sub WHERE vec_id < 4),
        |codes AS (
        |  SELECT vec_id AS c_id, j, cid AS code FROM (
        |    SELECT s.vec_id, s.j, c.cid,
        |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
        |        list_reduce(list_transform(generate_series(1, 16),
        |          i -> (CAST(s.sub[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
        |             * (CAST(s.sub[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))),
        |          (acc, x) -> acc + x) ASC, c.cid) AS rn
        |    FROM sub s JOIN cent c ON s.j = c.j) t
        |  WHERE rn = 1),
        |lut AS (
        |  SELECT s.vec_id AS q_id, s.j, c.cid,
        |    list_reduce(list_transform(generate_series(1, 16),
        |      i -> CAST(s.sub[i] AS DOUBLE) * CAST(c.cent[i] AS DOUBLE)),
        |      (acc, x) -> acc + x) AS pdot
        |  FROM sub s JOIN cent c ON s.j = c.j
        |  WHERE s.vec_id BETWEEN 10 AND 14),
        |scores AS (
        |  SELECT l.q_id, k.c_id,
        |    list_reduce(list_prepend(0.0, list_sort(list(l.pdot))),
        |      (a, x) -> a + x) AS score
        |  FROM codes k JOIN lut l ON k.j = l.j AND k.code = l.cid
        |  WHERE l.q_id <> k.c_id
        |  GROUP BY l.q_id, k.c_id)
        |SELECT q_id, rank, c_id, score FROM (
        |  SELECT q_id, c_id, score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, c_id) AS rank
        |  FROM scores) t
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),
    Query("dd_embed_neardup_ann", embeddingNearDupAnn, Some(
      s"""WITH sig AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
         |    $sqlBucketT0 AS bucket0, $sqlBucketT1 AS bucket1
         |  FROM embeddings)
         |SELECT keep_id, dup_id, score FROM (
         |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
         |  FROM sig a JOIN sig b ON a.bucket0 = b.bucket0 AND a.vec_id < b.vec_id
         |  UNION
         |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
         |  FROM sig a JOIN sig b ON a.bucket1 = b.bucket1 AND a.vec_id < b.vec_id) u
         |ORDER BY score DESC, keep_id, dup_id LIMIT 10""".stripMargin)),
    Query("sim_ann_recall", annRecall, Some(
      s"""WITH $sqlEvalSample,
         |sig AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
         |    $sqlBucketT0 AS bucket0, $sqlBucketT1 AS bucket1
         |  FROM ev),
         |truth AS (
         |  SELECT a.bucket0 AS a_b0, a.bucket1 AS a_b1,
         |    b.bucket0 AS b_b0, b.bucket1 AS b_b1,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
         |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         |  ORDER BY score DESC, a.vec_id, b.vec_id LIMIT 50)
         |SELECT COUNT(*) AS n_true,
         |  CAST(SUM(CASE WHEN a_b0 = b_b0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS caught_1t,
         |  CAST(SUM(CASE WHEN a_b0 = b_b0 OR a_b1 = b_b1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS caught_2t,
         |  CAST(SUM(CASE WHEN a_b0 = b_b0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS recall_1t,
         |  CAST(SUM(CASE WHEN a_b0 = b_b0 OR a_b1 = b_b1 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS recall_2t
         |FROM truth ORDER BY n_true""".stripMargin)),
    Query("dd_semdedup", semDedup, Some(
      s"""WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT vec_id, embedding, nrm, cell FROM (
         |    SELECT e.vec_id, e.embedding,
         |      sqrt(${sqlDot("e.embedding", "e.embedding")}) AS nrm,
         |      c.cid AS cell, row_number() OVER (
         |        PARTITION BY e.vec_id
         |        ORDER BY ${sqlDot("e.embedding", "c.embedding")} DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN cent c) t
         |  WHERE rn = 1),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) > 0.45)
         |SELECT a.vec_id, a.cell,
         |  CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
         |FROM assign a LEFT JOIN dups d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin)),
    Query("dd_embed_neardup", embeddingNearDup, Some(
      s"""WITH $sqlEvalSample
         |SELECT a_id AS keep_id, b_id AS dup_id, score FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${sqlCos("a.embedding", "b.embedding")} AS score
         |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
         |  ORDER BY score DESC, a_id, b_id LIMIT 10) t
         |ORDER BY score DESC, keep_id, dup_id""".stripMargin)),
    Query("sim_ivf_topk", ivfTopK, Some {
      val dotQC = sqlDot("q.embedding", "c.embedding")
      s"""WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT cell, vec_id AS c_id, embedding AS c_emb,
         |    sqrt(${sqlDot("e2.embedding", "e2.embedding")}) AS c_norm
         |  FROM (
         |    SELECT e.vec_id, e.embedding, c.cid AS cell, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.embedding", "c.embedding")} DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN cent c) e2
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT cell, vec_id AS q_id, embedding AS q_emb,
         |    sqrt(${sqlDot("e2.embedding", "e2.embedding")}) AS q_norm
         |  FROM (
         |    SELECT e.vec_id, e.embedding, c.cid AS cell, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${sqlDot("e.embedding", "c.embedding")} DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN cent c
         |    WHERE e.vec_id BETWEEN 10 AND 14) e2
         |  WHERE rn <= 2)
         |SELECT q_id, rank, c_id, score FROM (
         |  SELECT p.q_id, a.c_id,
         |    ${sqlDot("p.q_emb", "a.c_emb")} / (p.q_norm * a.c_norm) AS score,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY ${sqlDot("p.q_emb", "a.c_emb")} / (p.q_norm * a.c_norm) DESC,
         |        a.c_id) AS rank
         |  FROM probes p JOIN assign a ON p.cell = a.cell
         |  WHERE p.q_id <> a.c_id) t
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    }),
    Query("sim_matryoshka_topk", matryoshkaTopK, Some {
      val preDot = "list_reduce(list_transform(generate_series(1, 16), " +
        "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), " +
        "(acc, x) -> acc + x)"
      s"""SELECT q_id, rank, c_id, pre_rank, score FROM (
         |  SELECT q_id, c_id, pre_rank, score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, c_id) AS rank
         |  FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |      ${sqlCos("q.embedding", "c.embedding")} AS score,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY $preDot DESC, c.vec_id) AS pre_rank
         |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id % 211 = 0) s
         |  WHERE pre_rank <= 20) t
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    }),
    Query("sim_mmr_rerank", mmrRerank, None),
    Query("sim_cosine_topk", cosineTopK, Some(
      s"""SELECT q_id, rank, c_id, score FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    ${sqlCos("q.embedding", "c.embedding")} AS score,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${sqlCos("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 5) t
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    Query("sim_top_pairs", topPairs, Some(
      s"""WITH $sqlEvalSample
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${sqlCos("a.embedding", "b.embedding")} AS score
         |FROM ev a JOIN ev b ON a.vec_id < b.vec_id
         |ORDER BY score DESC, a_id, b_id LIMIT 20""".stripMargin)),
    Query("sim_lsh_buckets", lshBuckets, Some(
      s"""SELECT bucket, COUNT(*) AS n FROM (
         |  SELECT vec_id, $sqlBucket AS bucket FROM embeddings) t
         |GROUP BY bucket ORDER BY bucket""".stripMargin)),
    Query("vec_kmeans", kmeans, Some {
      // per-iteration building blocks of the Lloyd loop, mirrored from the
      // Spark side: IEEE L2-squared fold in dim order, argmin tie-broken
      // on cid, and the two-level chunked-fold centroid mean
      def dists(dName: String, cName: String) =
        s"""$dName AS (SELECT e.vec_id, c.cid,
           |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
           |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent[i])
           |         * (CAST(e.embedding[i] AS DOUBLE) - c.cent[i])),
           |      (acc, x) -> acc + x) AS dist
           |  FROM e CROSS JOIN $cName c)""".stripMargin
      def argmin(aName: String, dName: String) =
        s"""$aName AS (SELECT vec_id, cid, dist FROM (
           |    SELECT vec_id, cid, dist,
           |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM $dName) t WHERE rn = 1)""".stripMargin
      def recompute(lName: String, mName: String, cName: String, aName: String) =
        s"""$lName AS (SELECT $aName.cid, k AS pos, e.vec_id // 256 AS chunk,
           |    list_reduce(list_prepend(0.0, list_sort(
           |      list(CAST(e.embedding[CAST(k AS INT)] AS DOUBLE)))),
           |      (a, x) -> a + x) AS csum,
           |    COUNT(*) AS cn
           |  FROM $aName JOIN e USING (vec_id) CROSS JOIN range(1, 65) r(k)
           |  GROUP BY $aName.cid, k, chunk),
           |$mName AS (SELECT cid, pos,
           |    list_reduce(list_prepend(0.0, list(csum ORDER BY chunk)),
           |      (a, x) -> a + x) / CAST(SUM(cn) AS BIGINT) AS mean
           |  FROM $lName GROUP BY cid, pos),
           |$cName AS (SELECT cid, list(mean ORDER BY pos) AS cent
           |  FROM $mName GROUP BY cid)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cid,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
         |       FROM embeddings WHERE vec_id < 8),
         |${dists("d1", "c0")},
         |${argmin("a1", "d1")},
         |${recompute("m1l", "m1", "c1", "a1")},
         |${dists("d2", "c1")},
         |${argmin("a2", "d2")},
         |${recompute("m2l", "m2", "c2", "a2")},
         |${dists("d3", "c2")},
         |${argmin("a3", "d3")}
         |SELECT vec_id, cid, dist FROM a3 ORDER BY vec_id""".stripMargin
    }),
    Query("vec_centroids", centroids, Some(
      """WITH lvl1 AS (
        |  SELECT label, k, vec_id // 256 AS chunk,
        |    list_reduce(list_prepend(0.0, list_sort(
        |      list(CAST(embedding[CAST(k AS INT)] AS DOUBLE)))),
        |      (a, x) -> a + x) AS csum,
        |    COUNT(*) AS cn
        |  FROM embeddings CROSS JOIN range(1, 65) r(k)
        |  GROUP BY label, k, chunk)
        |SELECT label, CAST(k - 1 AS INT) AS pos,
        |  list_reduce(list_prepend(0.0, list(csum ORDER BY chunk)),
        |    (a, x) -> a + x) / CAST(SUM(cn) AS BIGINT) AS mean,
        |  CAST(SUM(cn) AS BIGINT) AS n_vecs
        |FROM lvl1 GROUP BY label, k ORDER BY label, pos""".stripMargin)),
    Query("sim_centroid_eval", centroidEval, Some(
      """WITH lvl1 AS (
        |  SELECT label, k, vec_id // 256 AS chunk,
        |    list_reduce(list_prepend(0.0, list_sort(
        |      list(CAST(embedding[CAST(k AS INT)] AS DOUBLE)))),
        |      (a, x) -> a + x) AS csum,
        |    COUNT(*) AS cn
        |  FROM embeddings CROSS JOIN range(1, 65) r(k)
        |  GROUP BY label, k, chunk),
        |cmean AS (
        |  SELECT label, k,
        |    list_reduce(list_prepend(0.0, list(csum ORDER BY chunk)),
        |      (a, x) -> a + x) / CAST(SUM(cn) AS BIGINT) AS mean
        |  FROM lvl1 GROUP BY label, k),
        |cent AS (SELECT label AS clabel, list(mean ORDER BY k) AS cent
        |  FROM cmean GROUP BY label),
        |dist AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(generate_series(1, 64), i ->
        |        (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) -
        |          c.cent[CAST(i AS INT)]) *
        |        (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) -
        |          c.cent[CAST(i AS INT)]))),
        |      (a, x) -> a + x) AS d2
        |  FROM embeddings e CROSS JOIN cent c),
        |pred AS (
        |  SELECT vec_id, label, clabel AS pred FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2, clabel) AS rn FROM dist)
        |  WHERE rn = 1),
        |cmx AS (SELECT label, CAST(pred AS INT) AS pred,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
        |acc AS (SELECT
        |  CAST(COALESCE(SUM(CASE WHEN label = pred THEN n END), 0)
        |    AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS accuracy FROM cmx)
        |SELECT label, pred, n, accuracy FROM cmx CROSS JOIN acc
        |ORDER BY label, pred""".stripMargin)),
    Query("vec_standardize", standardize, Some(
      """WITH lvl1 AS (
        |  SELECT k, vec_id // 256 AS chunk,
        |    list_reduce(list_prepend(0.0, list_sort(
        |      list(CAST(embedding[CAST(k AS INT)] AS DOUBLE)))),
        |      (a, x) -> a + x) AS csum,
        |    list_reduce(list_prepend(0.0, list_sort(
        |      list(CAST(embedding[CAST(k AS INT)] AS DOUBLE) *
        |           CAST(embedding[CAST(k AS INT)] AS DOUBLE)))),
        |      (a, x) -> a + x) AS csq,
        |    COUNT(*) AS cn
        |  FROM embeddings CROSS JOIN range(1, 65) r(k)
        |  GROUP BY k, chunk),
        |st AS (
        |  SELECT k,
        |    list_reduce(list_prepend(0.0, list(csum ORDER BY chunk)),
        |      (a, x) -> a + x) / CAST(SUM(cn) AS BIGINT) AS mean,
        |    list_reduce(list_prepend(0.0, list(csq ORDER BY chunk)),
        |      (a, x) -> a + x) / CAST(SUM(cn) AS BIGINT) AS msq
        |  FROM lvl1 GROUP BY k)
        |SELECT e.vec_id, CAST(k - 1 AS INT) AS pos,
        |  CAST(embedding[CAST(k AS INT)] AS DOUBLE) AS x, mean,
        |  sqrt(msq - mean * mean) AS std,
        |  (CAST(embedding[CAST(k AS INT)] AS DOUBLE) - mean) /
        |    sqrt(msq - mean * mean) AS z
        |FROM embeddings e CROSS JOIN range(1, 65) r(k) JOIN st USING (k)
        |WHERE e.vec_id % 211 = 0
        |ORDER BY vec_id, pos""".stripMargin)),
    Query("vec_norms", norms, Some(
      s"""SELECT vec_id, label,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS l2_norm,
         |  len(embedding) AS dim
         |FROM embeddings ORDER BY vec_id""".stripMargin)),
    Query("sim_sparse_topk", sparseTopK, Some(
      """WITH x AS (
        |  SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)),
        |sp AS (
        |  SELECT vec_id, dim, v FROM (
        |    SELECT vec_id, dim, v, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY abs(v) DESC, dim) AS rn FROM x) t WHERE rn <= 8),
        |m AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, COUNT(*) AS n_shared,
        |    list_reduce(list_prepend(0.0,
        |      list(q.v * c.v ORDER BY q.v * c.v)), (acc, x) -> acc + x)
        |      AS score
        |  FROM sp q JOIN sp c ON q.dim = c.dim AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id % 211 = 0
        |  GROUP BY q_id, c_id)
        |SELECT q_id, CAST(rank AS INT) AS rank, c_id, n_shared, score FROM (
        |  SELECT q_id, c_id, n_shared, score,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY score DESC, c_id) AS rank
        |  FROM m) t
        |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),
    Query("sim_ivf_pq_topk", ivfPqTopK, Some {
      def dot64(a: String, b: String): String =
        s"list_reduce(list_transform(generate_series(1, 64), " +
          s"i -> ($a)[i] * ($b)[i]), (acc, x) -> acc + x)"
      def l2sq64(a: String, b: String): String =
        s"list_reduce(list_transform(generate_series(1, 64), " +
          s"i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])), (acc, x) -> acc + x)"
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |cells AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cent
         |  FROM e WHERE vec_id < 4),
         |assigned AS (
         |  SELECT vec_id, cell,
         |    list_transform(generate_series(1, 64), i -> emb[i] - cent[i])
         |      AS res
         |  FROM (
         |    SELECT e.vec_id, cells.cell, e.emb, cells.cent,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2sq64("e.emb", "cells.cent")}, cells.cell) AS rn
         |    FROM e CROSS JOIN cells) t WHERE rn = 1),
         |cb AS (
         |  SELECT j, CAST(vec_id AS INT) AS cid,
         |    list_transform(generate_series(j * 16 + 1, j * 16 + 16),
         |      i -> res[i]) AS csub
         |  FROM assigned CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
         |  WHERE vec_id BETWEEN 4 AND 7),
         |codes AS (
         |  SELECT vec_id AS c_id, cell AS c_cell, j, cid AS code FROM (
         |    SELECT a.vec_id, a.cell, cb.j, cb.cid,
         |      row_number() OVER (PARTITION BY a.vec_id, cb.j ORDER BY
         |        list_reduce(list_transform(generate_series(1, 16),
         |          i -> (a.res[cb.j * 16 + i] - cb.csub[i])
         |             * (a.res[cb.j * 16 + i] - cb.csub[i])),
         |          (acc, x) -> acc + x), cb.cid) AS rn
         |    FROM assigned a CROSS JOIN cb) t WHERE rn = 1),
         |qp AS (
         |  SELECT q_id, cell, qc_dot, q_res FROM (
         |    SELECT e.vec_id AS q_id, cells.cell,
         |      ${dot64("e.emb", "cells.cent")} AS qc_dot,
         |      list_transform(generate_series(1, 64),
         |        i -> emb[i] - cent[i]) AS q_res,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2sq64("e.emb", "cells.cent")}, cells.cell) AS rn
         |    FROM e CROSS JOIN cells
         |    WHERE e.vec_id BETWEEN 10 AND 14) t WHERE rn <= 2),
         |lut AS (
         |  SELECT q_id, cell, qc_dot, j, cid,
         |    list_reduce(list_transform(generate_series(1, 16),
         |      i -> q_res[j * 16 + i] * csub[i]), (acc, x) -> acc + x) AS pdot
         |  FROM qp CROSS JOIN cb),
         |adc AS (
         |  SELECT l.q_id, c.c_id, l.qc_dot,
         |    list_reduce(list_prepend(0.0, list(l.pdot ORDER BY l.pdot)),
         |      (acc, x) -> acc + x) AS rsum
         |  FROM lut l JOIN codes c
         |    ON c.c_cell = l.cell AND c.j = l.j AND c.code = l.cid
         |  WHERE l.q_id <> c.c_id
         |  GROUP BY l.q_id, c.c_id, l.qc_dot)
         |SELECT q_id, CAST(rank AS INT) AS rank, c_id, score FROM (
         |  SELECT q_id, c_id, qc_dot + rsum AS score,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY qc_dot + rsum DESC, c_id) AS rank
         |  FROM adc) t
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    }),
    Query("sim_knn_descent", knnDescent, Some(
      s"""WITH $sqlKnnCtes
         |SELECT u AS vec_id, rank, w AS nb_id, score FROM dsc
         |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin)),
    Query("sim_knn_recall", knnRecall, Some(
      s"""WITH $sqlKnnCtes,
         |smp AS MATERIALIZED (
         |  SELECT vec_id FROM embeddings WHERE vec_id % 7 = 0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
         |truth AS (SELECT u, w FROM (
         |  SELECT u, w, row_number() OVER (PARTITION BY u
         |    ORDER BY score DESC, w) AS rk FROM (
         |    SELECT q.vec_id AS u, c.vec_id AS w,
         |      ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
         |        AS score
         |    FROM sig q JOIN smp ON q.vec_id = smp.vec_id
         |    JOIN sig c ON c.vec_id <> q.vec_id) p) t WHERE rk <= 3),
         |hits AS (SELECT t.u,
         |    CASE WHEN b.u IS NOT NULL THEN 1 ELSE 0 END AS hb,
         |    CASE WHEN g.u IS NOT NULL THEN 1 ELSE 0 END AS hd
         |  FROM truth t
         |  LEFT JOIN (SELECT u, v FROM g3
         |    WHERE u IN (SELECT vec_id FROM smp)) b
         |    ON t.u = b.u AND t.w = b.v
         |  LEFT JOIN (SELECT u, w FROM dsc
         |    WHERE rank <= 3 AND u IN (SELECT vec_id FROM smp)) g
         |    ON t.u = g.u AND t.w = g.w)
         |SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes,
         |  CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(hb) AS BIGINT) AS hit_base,
         |  CAST(SUM(hd) AS BIGINT) AS hit_desc,
         |  CAST(SUM(hb) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall_base,
         |  CAST(SUM(hd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall_desc
         |FROM hits ORDER BY n_truth""".stripMargin)),
    Query("sim_knn_graph", knnGraph, Some(
      s"""WITH sig AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
         |    $sqlBucketT0 AS bucket0, $sqlBucketT1 AS bucket1
         |  FROM embeddings),
         |cand AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
         |  FROM sig a JOIN sig b
         |    ON a.bucket0 = b.bucket0 AND a.vec_id <> b.vec_id
         |  UNION
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nb_id,
         |    ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS score
         |  FROM sig a JOIN sig b
         |    ON a.bucket1 = b.bucket1 AND a.vec_id <> b.vec_id)
         |SELECT vec_id, rank, nb_id, score FROM (
         |  SELECT vec_id, nb_id, score,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY score DESC, nb_id) AS rank
         |  FROM cand) t
         |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin)),
    Query("sim_range_search", rangeSearch, Some(
      s"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |  ${sqlCos("q.embedding", "c.embedding")} AS score
         |FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
         |WHERE q.vec_id < 3
         |  AND ${sqlCos("q.embedding", "c.embedding")} >= 0.1
         |ORDER BY q_id, c_id""".stripMargin)),
    Query("vec_quantize_int8", quantizeInt8, Some(
      """WITH s AS (
        |  SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      AS scale
        |  FROM embeddings)
        |SELECT vec_id, label,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
        |      AS INT) AS VARCHAR)), '|') AS codes
        |FROM s WHERE scale > 0 ORDER BY vec_id""".stripMargin)),
  )
}
