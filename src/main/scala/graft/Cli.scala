package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Developer CLI over the query catalog, on the same [[Session]] config as
  * [[Bench]]:
  *   - `time <sf> <reps> <query...>`: runs each query `reps` times, every
  *     row and column, and prints its min and every run, then the total of
  *     the mins;
  *   - `profile <sf> <reps> <query...>`: the same loop, plus each run's
  *     completed stages (duration, tasks, shuffle read/write, input bytes),
  *     longest first;
  *   - `plan [--final] <sf> <outDir|-> <query...>`: writes each query's
  *     formatted plan to `<outDir>/<query>.txt` (`-`: stdout). `--final`
  *     collects first, so the plan is AQE's post-execution one, with its
  *     runtime decisions (exchange reuse, skew splits, join demotions). */
object Cli {
  sealed trait Command { def queries: Seq[String] }
  final case class Time(sf: String, reps: Int, queries: Seq[String],
      profile: Boolean) extends Command
  final case class Plan(sf: String, out: String, queries: Seq[String],
      executed: Boolean) extends Command

  val usage: String =
    """usage: graft.Cli time <sf> <reps> <query...>
      |       graft.Cli profile <sf> <reps> <query...>
      |       graft.Cli plan [--final] <sf> <outDir|-> <query...>""".stripMargin

  /** Reads the command line without touching Spark; `Left` is the reason
    * it was rejected. */
  def parse(args: Seq[String]): Either[String, Command] = (args match {
    case (cmd @ ("time" | "profile")) +: sf +: reps +: qs if qs.nonEmpty =>
      reps.toIntOption.filter(_ > 0)
        .toRight(s"reps must be a positive integer, got '$reps'")
        .map(Time(sf, _, qs, profile = cmd == "profile"))
    case "plan" +: "--final" +: sf +: out +: qs if qs.nonEmpty =>
      Right(Plan(sf, out, qs, executed = true))
    case "plan" +: sf +: out +: qs if qs.nonEmpty && sf != "--final" =>
      Right(Plan(sf, out, qs, executed = false))
    case _ => Left("wrong arguments")
  }).flatMap { cmd =>
    val unknown = cmd.queries.filterNot(SparkEntry.queries.keySet)
    if (unknown.isEmpty) Right(cmd) else Left(s"unknown queries: ${unknown.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(why) =>
      System.err.println(s"$why\n$usage")
      sys.exit(2)
    case Right(cmd) =>
      val spark = Session.local(Session.cpus)
      try cmd match {
        case t: Time => time(spark, t)
        case p: Plan => plan(spark, p)
      } finally spark.stop()
  }

  private def time(spark: SparkSession, cmd: Time): Unit = {
    // NonFatal only: swallowing OOM/linkage errors here would let timing
    // proceed against a broken session and report garbage.
    try SparkEntry.entry(spark).count()
    catch { case NonFatal(e) => System.err.println(s"CLI warmup failed: $e") }
    val stages = ArrayBuffer.empty[StageInfo]
    if (cmd.profile) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized { stages += e.stageInfo }
    })
    var total = 0.0
    cmd.queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to cmd.reps).map { rep =>
        stages.synchronized { stages.clear() }
        val t0 = System.nanoTime()
        // toRdd, not count(): count() plans an aggregate that prunes
        // every column (and the final sort) it does not need, so it would
        // time a cheaper query than the one Verify writes out
        val rows = fn(spark, cmd.sf).queryExecution.toRdd.count()
        val t = (System.nanoTime() - t0) / 1e9
        CacheHygiene.clear(spark)
        if (cmd.profile) {
          Thread.sleep(300) // let listener events drain
          println(f"PROFILE $name rep$rep total=$t%.2f s ($rows rows)")
          printStages(stages.synchronized { stages.toSeq })
        }
        t
      }
      total += times.min
      println(f"TIME $name min=${times.min}%.2f all=[${times.map(t => f"$t%.2f").mkString(", ")}]")
    }
    println(f"TIME total_min=$total%.2f over ${cmd.queries.length} queries")
  }

  /** The 25 longest stages, then the stage count and summed duration. */
  private def printStages(stages: Seq[StageInfo]): Unit = {
    def ms(i: StageInfo): Long =
      (for { s <- i.submissionTime; c <- i.completionTime } yield c - s).getOrElse(-1L)
    stages.sortBy(-ms(_)).take(25).foreach { i =>
      val m = i.taskMetrics
      println(f"  stage ${i.stageId}%4d ${ms(i)}%6d ms tasks=${i.numTasks}%3d " +
        f"shR=${m.shuffleReadMetrics.totalBytesRead / 1024}%8dK " +
        f"shW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8dK " +
        f"in=${m.inputMetrics.bytesRead / 1024}%8dK  ${i.name.takeWhile(_ != '\n').take(80)}")
    }
    println(f"  n_stages=${stages.size} sum_stage_ms=${stages.map(ms).sum}")
  }

  private def plan(spark: SparkSession, cmd: Plan): Unit = {
    if (cmd.out != "-") Files.createDirectories(Paths.get(cmd.out))
    cmd.queries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, cmd.sf)
      // collect(), not count(): count() plans a NEW query execution and
      // leaves this one unexecuted (isFinalPlan=false forever).
      if (cmd.executed) df.collect()
      val text = df.queryExecution.explainString(FormattedMode)
      if (cmd.out == "-") println(s"\n========== $name ==========\n$text")
      else println(s"PLAN wrote ${Files.writeString(Paths.get(cmd.out, s"$name.txt"), text)}")
      CacheHygiene.clear(spark)
    }
  }
}
