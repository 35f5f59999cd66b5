package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Developer CLI over the query catalog, on the same [[Session]] config as
  * [[Bench]]:
  *   - `time <sf> <reps> <query...>`: runs the query list `reps` times
  *     ([[Run.sweep]]: pass-separated, every row and column), and prints
  *     each query's min and every run, then the total of the mins;
  *   - `profile <sf> <reps> <query...>`: the same loop, plus each run's
  *     completed stages (duration, tasks, shuffle read/write, input bytes),
  *     longest first;
  *   - `plan [--final] <sf> <outDir|-> <query...>`: writes each query's
  *     formatted plan to `<outDir>/<query>.txt` (`-`: stdout). `--final`
  *     materializes first, so the plan is AQE's post-execution one, with its
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
    Run.sweep(spark, cmd.sf, Seq(Run.entry))
    val stages = ArrayBuffer.empty[StageInfo]
    if (cmd.profile) {
      GraftBridge.waitUntilEmpty(spark) // the warm-up's stages stay out
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          stages.synchronized { stages += e.stageInfo }
      })
    }
    val outcomes = Run.sweep(spark, cmd.sf, Run.named(cmd.queries), cmd.reps,
      after = (name, rep, r) => if (cmd.profile) {
        // every stage of this run reaches the listener before it is printed
        GraftBridge.waitUntilEmpty(spark)
        r.foreach(t => println(f"PROFILE $name rep$rep total=$t%.2f s"))
        printStages(stages.synchronized { try stages.toSeq finally stages.clear() })
      })
    outcomes.foreach { o =>
      val all = o.runs.map(_.fold(_ => "failed", t => f"$t%.2f")).mkString(", ")
      println(o.best.fold(s"TIME ${o.name} failed all=[$all]")(
        t => f"TIME ${o.name} min=$t%.2f all=[$all]"))
    }
    println(f"TIME total_min=${outcomes.flatMap(_.best).sum}%.2f over " +
      s"${outcomes.count(!_.failed)} of ${outcomes.length} queries")
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
    Run.sweep(spark, cmd.sf, Run.named(cmd.queries), action = (name, df) => {
      if (cmd.executed) Run.materialize(df)
      val text = df.queryExecution.explainString(FormattedMode)
      if (cmd.out == "-") println(s"\n========== $name ==========\n$text")
      else println(s"PLAN wrote ${Files.writeString(Paths.get(cmd.out, s"$name.txt"), text)}")
    })
  }
}
