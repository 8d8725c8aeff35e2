package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The one `private[sql]` doorway a third-party whole-operator extension
  * needs: constructing a DataFrame from a custom LogicalPlan. Spark keeps
  * `Dataset.ofRows` package-private; placing this accessor in a
  * subpackage of org.apache.spark.sql is the standard extension-library
  * technique (the alternative — reflection — is strictly worse). Nothing
  * else in this repo lives outside the graft namespace. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark 4 removed `Column.expr` from the public API (Column wraps a
    * ColumnNode). `ExpressionUtils.expression` returns a LAZY wrapper the
    * analyzer only unwraps on classic API paths — a custom logical node
    * needs the session's EAGER converter or the wrapper survives to
    * execution and fails as Unevaluable. */
  def expr(spark: SparkSession, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Wrap a custom Expression built from a Column's expression back into
    * a Column — for expressions with non-child parameters (e.g. an n-gram
    * width), which can't go through the function-registry path. */
  def column(
      spark: SparkSession,
      f: org.apache.spark.sql.catalyst.expressions.Expression =>
        org.apache.spark.sql.catalyst.expressions.Expression,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(f(expr(spark, c)))

  /** Block until every listener event posted so far has been delivered —
    * SparkListener and StreamingQueryListener callbacks run on the
    * asynchronous listener bus, so a profiler that reads what its
    * listeners collected right after an action can miss the tail. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
