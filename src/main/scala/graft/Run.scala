package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query runner: [[Bench]], [[Cli]] and [[Verify]] build, act on,
  * time and release every catalog query here. */
object Run {
  type Build = (SparkSession, String) => DataFrame

  /** A query's runs in pass order: seconds, or what the run threw. */
  final case class Outcome(name: String, runs: Seq[Either[Throwable, Double]]) {
    /** Pass 1 alone decides: a flaky later pass can neither hide a failure
      * nor turn a success into one. */
    def failed: Boolean = runs.head.isLeft
    /** The fastest successful run, unless pass 1 failed. */
    def best: Option[Double] =
      if (failed) None else Some(runs.collect { case Right(t) => t }.min)
  }

  /** Catalog queries by name; an unknown name throws. */
  def named(names: Seq[String]): Seq[(String, Build)] =
    names.map(n => n -> SparkEntry.queries(n))

  /** [[SparkEntry.entry]] as a warm-up run: session startup, JVM and scan
    * paths, charged to no timed query. */
  val entry: (String, Build) = "entry" -> ((s, _) => SparkEntry.entry(s))

  /** Computes every row and column of `df` through its own plan.
    * `df.count()` would plan a new query that prunes the columns and the
    * final sort it does not need, time a cheaper query than the one
    * Verify writes out, and leave `df`'s plan unexecuted (so AQE's final
    * plan would never show). Returns the row count. */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Sweeps `queries` `passes` times, in order, each pass once over the
    * whole list, so a sustained load window lasting longer than one
    * query's runs lands on it in at most one pass. A query that failed
    * pass 1 is not run again. Each run times `build` plus `action` on the
    * query's name and frame (by default [[materialize]]), then releases
    * every block the session cached ([[CacheHygiene.clear]]); `after` sees
    * the run's result once that is done. A `NonFatal` failure is reported
    * on stderr and the sweep goes on; a fatal one (OOM, linkage) ends it. */
  def sweep(spark: SparkSession, sf: String, queries: Seq[(String, Build)],
      passes: Int = 1, action: (String, DataFrame) => Unit = (_, df) => materialize(df),
      after: (String, Int, Either[Throwable, Double]) => Unit = (_, _, _) => ()
  ): Seq[Outcome] = {
    def once(name: String, build: Build, pass: Int): Either[Throwable, Double] = {
      val r = try {
        val t0 = System.nanoTime()
        action(name, build(spark, sf))
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        System.err.println(s"RUN FAIL $name pass $pass: ${e.getClass.getName}: ${e.getMessage}")
        Left(e)
      } finally CacheHygiene.clear(spark)
      after(name, pass, r)
      r
    }
    val first = queries.map { case (name, build) => Outcome(name, Seq(once(name, build, 1))) }
    (2 to passes).foldLeft(first) { (outcomes, pass) =>
      outcomes.zip(queries).map { case (o, (name, build)) =>
        if (o.failed) o else o.copy(runs = o.runs :+ once(name, build, pass))
      }
    }
  }
}
