package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** LogicalPlan ⇄ DataFrame bridge for graft's native plan nodes.
  *
  * `Dataset.ofRows` is `private[sql]` in classic mode; graft's custom
  * operators ([[graft.plans.NativePass]]) build a resolved logical
  * node over an analyzed child and need to re-wrap it as a DataFrame.
  * Living under `org.apache.spark.sql` grants exactly that access — the
  * standard extension-library idiom, same as [[ColumnBridge]].
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
}
