package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** A DataFrame over a custom logical node: `Dataset.ofRows` and
  * `Dataset.logicalPlan` are `private[sql]`. `ofRows` analyzes the plan and
  * runs nothing. */
object PlanBridge {
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], plan)
}
