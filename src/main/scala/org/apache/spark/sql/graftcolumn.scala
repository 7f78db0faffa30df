package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for building classic `Column`s from custom Catalyst expressions.
  *
  * Spark 4's `Column` wraps a `ColumnNode`, and the classic-mode converters
  * (`ExpressionUtils.column` / `.expression`) are `private[sql]` — the
  * long-standing extension-library pattern is a one-file shim in the
  * `org.apache.spark.sql` package exposing exactly those two calls.
  * Everything else in graft stays in its own package.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a custom LogicalPlan (classic-mode `Dataset.ofRows`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** DataFrame from a LogicalPlan that is already analysed: the plan is
    * marked analysed, so its QueryExecution skips the analyzer. The
    * Dataset ids a transform copied from an earlier plan's root are
    * dropped, so each DataFrame starts its own set. */
  def ofAnalyzed(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame = {
    plan.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    plan.setAnalyzed()
    ofRows(spark, plan)
  }
}
