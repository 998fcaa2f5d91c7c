package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Minimal bridge into Spark's `private[sql]` surface, required to hand
  * a custom LogicalPlan (graft.plans.AsOfJoin) or Expression back to the
  * public Dataset API. Placing one shim object inside the org.apache.spark.sql
  * namespace is the standard technique external connectors/extensions
  * use (the alternative — reflection — is slower and more brittle).
  * Everything else in this repo lives in the graft.* namespace. */
object Shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def logicalPlan(df: DataFrame): LogicalPlan =
    ClassicConversions.castToImpl(df).logicalPlan

  /** Test-only: unregister a session function (lets specs exercise the
    * built-in fallback paths that run when GraftExtensions is absent). */
  def dropFunction(spark: SparkSession, name: String): Unit =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry
      .dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))

  /** Test-only: (re-)register a function on a LIVE session — builder
    * extensions only apply at session construction. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
