package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy

/** DataFrame ↔ logical plan bridge for graft's own Catalyst operators.
  *
  * A library node must enter a query as a logical plan and leave it as a
  * `DataFrame`, so that one Catalyst plan spans the user's query and the
  * operator. Spark 4 scopes both conversions to the sql package
  * (`classic.Dataset.ofRows`, `Dataset.logicalPlan`); this shim
  * re-exposes them, as [[ColumnBridge]] does for expressions.
  */
object PlanBridge {

  /** The analyzed logical plan of `df`. */
  def logicalPlan(df: DataFrame): LogicalPlan = df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** A `DataFrame` over `plan`, analyzed but not yet planned. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Put `strategy` ahead of the session's planner strategies, once. */
  def registerStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val experimental = spark.experimental
    experimental.synchronized {
      if (!experimental.extraStrategies.contains(strategy))
        experimental.extraStrategies = strategy +: experimental.extraStrategies
    }
  }
}
