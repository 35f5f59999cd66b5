package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.scalatest.funsuite.AnyFunSuite

/** [[Run.sweep]], the one query runner, at sf0.001: what it materializes,
  * its pass order and pass/fail rule, and its release after every run. */
class RunSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private def persisted(): Int = spark.sparkContext.getPersistentRDDs.size

  test("materialize executes the query's own plan, final sort included") {
    val plans = ArrayBuffer.empty[AdaptiveSparkPlanExec]
    val Seq(o) = Run.sweep(spark, TestSpark.sf, Run.named(Seq("q1_pricing_summary")),
      action = (_, df) => {
        Run.materialize(df)
        plans += df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
      })
    assert(!o.failed)
    val Seq(plan) = plans.toSeq
    assert(plan.toString.contains("isFinalPlan=true"))
    assert(collect(plan) { case s: SortExec => s }.nonEmpty, plan.executedPlan)
  }

  test("passes are separated; pass 1 decides failure; later failures keep pass-1 times") {
    val order = ArrayBuffer.empty[String]
    var cRuns = 0
    def build(name: String)(body: => Unit): Run.Build = (s, _) => {
      order += name
      body
      s.range(10).toDF()
    }
    val outcomes = Run.sweep(spark, TestSpark.sf, Seq(
      "a" -> build("a")(()),
      "b" -> build("b")(throw new IllegalStateException("b fails")),
      "c" -> build("c") { cRuns += 1; if (cRuns == 2) throw new IllegalStateException("c pass 2") }),
      passes = 2)
    assert(order.toSeq == Seq("a", "b", "c", "a", "c"))
    val Seq(a, b, c) = outcomes
    assert(outcomes.map(_.name) == Seq("a", "b", "c"))
    assert(a.runs.size == 2 && a.runs.forall(_.isRight) && !a.failed)
    assert(a.best == Some(a.runs.collect { case Right(t) => t }.min))
    assert(b.failed && b.best.isEmpty && b.runs.size == 1)
    assert(b.runs.head.left.map(_.getMessage) == Left("b fails"))
    assert(!c.failed && c.best == c.runs.head.toOption)
    assert(c.runs(1).left.map(_.getMessage) == Left("c pass 2"))
  }

  test("a failing query does not stop the sweep, and every run releases what it persisted") {
    val before = persisted()
    val grew = ArrayBuffer.empty[String]
    val after = ArrayBuffer.empty[(String, Int)]
    val broken: Run.Build = (s, _) => {
      s.range(1000).toDF("x").persist().count()
      throw new IllegalStateException("fails after persisting")
    }
    val outcomes = Run.sweep(spark, TestSpark.sf,
      Seq(Run.named(Seq("dd_clusters")).head, "broken" -> broken,
        Run.named(Seq("q1_pricing_summary")).head),
      action = (name, df: DataFrame) => {
        Run.materialize(df)
        if (persisted() > before) grew += name
      },
      after = (name, _, _) => after += name -> persisted())
    assert(outcomes.map(_.failed) == Seq(false, true, false))
    assert(grew.toSeq == Seq("dd_clusters"), "dd_clusters persists blocks for its own action")
    assert(after.toSeq == Seq("dd_clusters", "broken", "q1_pricing_summary").map(_ -> before))
  }
}
