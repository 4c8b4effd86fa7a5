package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils,
  SparkSession => ClassicSparkSession}

/** The two `private[sql]` doors custom Catalyst pieces need:
  * `Dataset.ofRows` turns a hand-built `LogicalPlan` into a DataFrame,
  * and `ExpressionUtils` turns a hand-built `Expression` into a Column
  * and back. Spark exposes every other extension point publicly
  * (`SparkSessionExtensions`, `experimental.extraStrategies`) but offers
  * no public plan→DataFrame or expression→Column constructor, so every
  * extension library ships this shim in an `org.apache.spark.sql`
  * subpackage. Nothing else in the repo lives outside the `graft`
  * namespace.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
