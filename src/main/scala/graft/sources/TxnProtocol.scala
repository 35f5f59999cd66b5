package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The file-level transaction log — the one owner of its format: commit
  * `v` is `(path, action)` parquet rows under `v=<v>/`. The layout_*
  * queries and [[graft.streaming.StreamQueries.streamLogCommits]] write
  * and read their logs through [[commit]], [[log]] and [[live]]; each has
  * one writer, so none of them [[claim]]s.
  *
  * OPTIMISTIC CONCURRENCY: multiple writers may prepare rewrites from the
  * same snapshot; exactly one wins each log version, and losers must
  * re-read the log and either REBASE (their read-set is untouched by the
  * commits they lost to) or ABORT (a file they depend on was removed) —
  * the Delta/Iceberg commit loop.
  *
  * The claim primitive is an atomic directory create of the version dir
  * itself: on a POSIX filesystem `Files.createDirectory` is
  * create-if-absent-or-fail, the same contract object stores expose as
  * put-if-absent — which is precisely what Delta's LogStore requires of a
  * commit. Data files land BEFORE any claim (epoch-addressed, invisible
  * until the log references them), so a lost race never leaks rows: the
  * loser's prepared files are simply never referenced, and a later vacuum
  * of unreferenced files reclaims them.
  *
  * Conflict detection is snapshot-isolation's write-set rule: a rebase is
  * safe iff none of the files THIS writer removes were already removed by
  * a commit it did not see (file-level granularity — two compactions of
  * disjoint buckets always both land; two rewrites of the same bucket
  * conflict and the loser must re-prepare from the new snapshot). The
  * check joins two listing-scale relations; the single `isEmpty` action
  * is a driver-side COMMIT DECISION on metadata, not a data-path collect.
  *
  * ConcurrencySpec drives the whole loop with real racing threads: both
  * writers prepare from v0, both claim v1, exactly one wins, the loser
  * rebases to v2, and a third writer whose write-set overlaps a lost
  * removal aborts. */
object TxnProtocol {

  /** Atomically claim log version `v`; true iff this writer won the
    * version. The winner must then write its actions inside the claimed
    * dir (the commit becomes readable when its parquet lands — readers
    * treat an empty claimed dir as an in-flight commit). */
  def claim(logDir: String, v: Int): Boolean = {
    Files.createDirectories(Paths.get(logDir))
    try { Files.createDirectory(Paths.get(logDir, s"v=$v")); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** Highest claimed version, -1 if none. Listing-scale. */
  def latest(logDir: String): Int = {
    val d = Paths.get(logDir)
    if (!Files.exists(d)) -1
    else {
      val vs = Files.list(d).toArray.toSeq.map(_.toString)
        .flatMap(p => "v=(\\d+)$".r.findFirstMatchIn(p).map(_.group(1).toInt))
      if (vs.isEmpty) -1 else vs.max
    }
  }

  /** Snapshot-isolation write-set check: does any path this writer wants
    * to remove appear among the removals committed in versions
    * (`readVersion`, `upTo`]? If yes, the writer's input files are gone —
    * rebase is unsound and it must re-prepare from the new snapshot. */
  def removeConflicts(s: SparkSession, logDir: String, readVersion: Int,
      upTo: Int, myRemoves: DataFrame): Boolean = {
    if (upTo <= readVersion) false
    else {
      val theirRemoves = log(s, logDir)
        .filter(col("v") > readVersion && col("v") <= upTo &&
          col("action") === "remove")
        .select(col("path"))
      !myRemoves.select(col("path")).join(theirRemoves, Seq("path"), "left_semi")
        .isEmpty
    }
  }

  /** Write commit `v` (overwrite: a retry replaces itself) from the
    * distinct `path`s of `removes` then `adds`. */
  def commit(logDir: String, v: Long, adds: DataFrame,
      removes: Option[DataFrame] = None): Unit = {
    val addRows = adds.select(col("path")).distinct()
      .select(col("path"), lit("add").as("action"))
    removes.fold(addRows)(_.select(col("path")).distinct()
        .select(col("path"), lit("remove").as("action")).unionByName(addRows))
      .write.mode("overwrite").parquet(s"$logDir/v=$v")
  }

  /** Every committed (path, action, v). Listing-scale. */
  def log(s: SparkSession, logDir: String): DataFrame =
    s.read.option("basePath", logDir).parquet(logDir)
      .select(col("path"), col("action"), col("v").cast("int").as("v"))

  /** Snapshot `upTo`: paths added at versions ≤ `upTo`, removed at none. */
  def live(log: DataFrame, upTo: Int): DataFrame = {
    val seen = log.filter(col("v") <= upTo)
    seen.filter(col("action") === "add").select(col("path"))
      .join(seen.filter(col("action") === "remove").select(col("path")),
        Seq("path"), "left_anti")
  }
}
