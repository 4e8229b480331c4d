package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for wrapping custom Catalyst Expressions into public `Column`s.
  * `ExpressionUtils` is `private[sql]`, so the accessor lives in a subpackage
  * of org.apache.spark.sql — the standard extension-point shim for libraries
  * that ship native expressions.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Input-type spec for string-typed expressions (AbstractDataType is
    * private[sql]; expressions outside the package reference it via inference).
    */
  val stringInput: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)

  /** Input type accepting array<double> OR array<float> with NO cast (the
    * float-native vector hot path); other numeric arrays implicit-cast to the
    * collection's first entry. `TypeCollection` is private[sql] — hence here.
    */
  val vecArrayInput: org.apache.spark.sql.types.AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))

  /** Integer division (`div`) — exact at every long magnitude, unlike `/`
    * (double division, exact only below 2^53). Truncates toward zero.
    */
  def intDiv(a: Column, b: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      expression(a), expression(b)))

  /** Wrap a one-row/one-column DataFrame as a scalar-subquery expression —
    * the plan-shape Spark's own runtime row-group filtering uses to ship a
    * Bloom sketch to the probe side without a join: the subquery executes
    * once and its result is broadcast as a literal into every task.
    */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Column =
    column(org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed))

  /** `bloom_filter_agg` over a LONG column (the engine-internal aggregate
    * behind runtime bloom joins — not SQL-registered, hence the shim).
    */
  def bloomFilterAgg(c: Column, estimatedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(c),
      org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)).toAggregateExpression())

  /** `might_contain(bloom, xxhash64-long)` — pairs with [[bloomFilterAgg]];
    * `bloom` must be foldable or a scalar subquery ([[scalarSubquery]]).
    */
  def mightContain(bloom: Column, value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(value)))

  /** A DataFrame over a logical plan that graft builds itself (the fused
    * scans of graft.operators.FusedTopK, planned by the strategy that
    * graft.plans.GraftExtensions injects): `Dataset.ofRows` is
    * private[sql], hence the shim.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
