package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.SQLExecution

/** Bridge to `Dataset.ofRows` (private[sql]) — constructs a DataFrame
  * from a custom LogicalPlan node, the entry point a library-defined
  * operator (e.g. [[graft.plans.AsOfJoin]]) needs to participate in a
  * normal DataFrame pipeline. Same package-placement technique as
  * [[ColumnBridge]].
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** A small frame's rows, computed by one action and held as a
    * `LocalRelation`: later consumers read the rows instead of
    * re-running the plan. The rows stay in Catalyst's internal form,
    * so every value is kept as computed; a `createDataFrame` over
    * collected `Row`s would reorder map entries.
    */
  def collectLocal(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
    ofRows(df.sparkSession, LocalRelation(qe.analyzed.output, rows.toSeq))
  }
}
