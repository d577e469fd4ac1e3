package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.write.{BatchWrite, PhysicalWriteInfoImpl,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.v2.GraftWriteTask

/** Bridge into `private[sql]` API: Column ⇄ Catalyst Expression.
  *
  * Spark 4 made the Column↔Expression converters package-private
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Custom Catalyst
  * expressions still need them to surface as user-facing `Column`s, so
  * this shim lives in the `org.apache.spark.sql` package. Besides those
  * converters it holds two error constructors and what a DataSource V2
  * batch write needs: a session's Hadoop configuration, a DataFrame's
  * physical plan and Spark's write task, whose `private[v2]` result
  * [[org.apache.spark.sql.execution.datasources.v2.GraftWriteTask]] reads.
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

  /** Runs `batch` over the rows of `df` as one Spark job started on this
    * thread: the body of Spark's `V2TableWriteExec.writeWithV2`. It makes
    * the writer factory, runs a job whose tasks are Spark's DataSource V2
    * write task, then calls `commit`, or `abort` on any failure. The rows
    * come from `df`'s one physical plan (`queryExecution.toRdd`), so every
    * write over the same `df` runs over the same plan. Input with no
    * partitions is written as one empty partition, as Spark does. The job
    * runs outside a SQL execution: it has no SQL-tab entry and no
    * `QueryExecutionListener` callback. */
  def write(df: DataFrame, batch: BatchWrite): Unit = {
    val planned = df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
    val sc = planned.sparkContext
    val rows = if (planned.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1)
      else planned
    val messages = new Array[WriterCommitMessage](rows.partitions.length)
    try {
      val factory = batch.createBatchWriterFactory(PhysicalWriteInfoImpl(messages.length))
      sc.runJob(rows, new GraftWriteTask(factory, batch.useCommitCoordinator),
        messages.indices, (i: Int, m: WriterCommitMessage) => {
          messages(i) = m
          batch.onDataWriterCommit(m)
        })
      batch.commit(messages)
    } catch {
      case cause: Throwable =>
        try batch.abort(messages) catch { case t: Throwable => cause.addSuppressed(t) }
        throw cause
    }
  }

  /** The Hadoop configuration a file write of `spark` starts from. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
