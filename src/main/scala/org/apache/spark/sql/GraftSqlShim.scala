package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` plan→DataFrame construction for graft's custom
  * logical operators (the standard extension-library shim — Spark exposes no
  * public API for wrapping a custom [[LogicalPlan]] node in a DataFrame).
  * Each bridge is one call, so the `org.apache.spark.sql` package intrusion
  * stays one line deep.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a Column (and back) — for graft's
    * parameterized custom expressions (e.g. a Generator carrying a term
    * dictionary), which can't go through the name-based function registry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Every field nullable, recursively — what a file relation makes of the
    * schema it reads (`private[spark]` on StructType). */
  def asNullable(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    schema.asNullable
}
