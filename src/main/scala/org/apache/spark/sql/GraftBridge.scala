package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Bridge into `private[sql]` API: Column ⇄ Catalyst Expression.
  *
  * Spark 4 made the Column↔Expression converters package-private
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Custom Catalyst
  * expressions still need them to surface as user-facing `Column`s, so
  * this one-file shim lives in the `org.apache.spark.sql` package. It is
  * the complete extent of our reliance on non-public API: those
  * converters, two error constructors, and the session state a batch
  * write to a DataSource V2 table needs.
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

  /** Appends `df` to `table` as one DataSource V2 batch write: one Spark
    * job, in a SQL execution of its own, as `df.write` runs it. */
  def append(df: DataFrame, table: SupportsWrite): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    new QueryExecution(ds.sparkSession, AppendData.byPosition(
      DataSourceV2Relation.create(table, None, None), ds.logicalPlan))
      .assertCommandExecuted()
  }

  /** The Hadoop configuration a file write of `spark` starts from. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
