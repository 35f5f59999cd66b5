package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors, needed to materialize a
  * DataFrame from a custom LogicalPlan (the same pattern Spark's own
  * extensions use; see SNIPPETS.md [1] for the public precedent). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unpersists the RDD a `localCheckpoint()` Dataset pinned: its analyzed
    * plan is a `LogicalRDD` over exactly that RDD, so no other job's
    * persisted RDDs are touched. */
  def releaseCheckpoint(df: DataFrame): Unit = analyzed(df) match {
    case r: execution.LogicalRDD => r.rdd.unpersist(blocking = false)
  }

  /** Blocks until every event posted so far has reached every listener. */
  def waitUntilEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def addStrategy(spark: SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }
}
