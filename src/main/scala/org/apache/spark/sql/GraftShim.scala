package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for Expression ↔ Column conversion — `classic.ExpressionUtils`
  * is private[sql] in Spark 4, so graft's custom Catalyst expressions
  * go through this package-local shim (the standard pattern for Spark
  * extension libraries). */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Uncorrelated scalar subquery as a Column (Catalyst ScalarSubquery
    * over the child's analyzed plan). */
  def scalarSubquery(df: DataFrame): Column = {
    val plan = df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    column(catalyst.expressions.ScalarSubquery(plan))
  }

  /** LIKE with an arbitrary pattern expression (Column.like only takes
    * a literal string). */
  def like(input: Column, pattern: Column): Column =
    column(catalyst.expressions.Like(expression(input), expression(pattern), '\\'))

  /** C-style integral division (mutable's `/` on integer operands). */
  def integralDivide(l: Column, r: Column): Column =
    column(catalyst.expressions.IntegralDivide(expression(l), expression(r)))

  /** A DataFrame over rows held on the driver: one LocalRelation node,
    * so the plan stays one node however many batches filled the rows,
    * and a driver-side action over it (`isEmpty`, `collect`) runs no
    * job. */
  def localRelation(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Per-session UUID (`sessionUUID` is private[sql]): the stable
    * cache key for session-scoped state — unlike an identity hash it
    * can never be recycled onto a different live session. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
