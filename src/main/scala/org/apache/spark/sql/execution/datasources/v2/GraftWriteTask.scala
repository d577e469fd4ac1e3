package org.apache.spark.sql.execution.datasources.v2

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriterFactory, WriterCommitMessage}

/** One task of a batch write that `org.apache.spark.sql.GraftBridge.write`
  * runs: Spark's own DataSource V2 write task, whose `private[v2]` result
  * this reduces to the writer's commit message. A named class rather than
  * a lambda, so `SparkContext.clean` has no class file to read with ASM
  * before each job. */
final class GraftWriteTask(factory: DataWriterFactory, useCommitCoordinator: Boolean)
    extends ((TaskContext, Iterator[InternalRow]) => WriterCommitMessage) with Serializable {
  override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): WriterCommitMessage =
    DataWritingSparkTask.run(factory, ctx, rows, useCommitCoordinator, Map.empty)
      .writerCommitMessage
}
