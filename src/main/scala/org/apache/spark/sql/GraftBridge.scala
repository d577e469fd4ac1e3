package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` API: Column ⇄ Catalyst Expression.
  *
  * Spark 4 made the Column↔Expression converters package-private
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Custom Catalyst
  * expressions still need them to surface as user-facing `Column`s, so
  * this one-file shim lives in the `org.apache.spark.sql` package. It is
  * the complete extent of our reliance on non-public API.
  */
object GraftBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The errors ANSI-mode `x / 0.0` and `CAST(NaN AS INT)` raise, so a
    * native kernel fails with the same error class as the expression
    * it replaces. */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)
  def castOverflow(v: Double): ArithmeticException =
    errors.QueryExecutionErrors.castingCauseOverflowError(
      v, types.DoubleType, types.IntegerType)
}
