package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[spark]` task-memory API and page size
  * and the `private[sql]` frame-over-Catalyst-rows constructor, for an
  * operator that keeps accounted state inside one task and hands back
  * rows, or sizes its tasks to the memory one task holds.
  * Lives under org.apache.spark.sql to satisfy the access modifiers. */
object TaskBridge {
  /** The memory manager of the running task. */
  def memoryManager(ctx: TaskContext): TaskMemoryManager =
    ctx.taskMemoryManager()

  /** Adds `bytes` to the task's peak-execution-memory metric, as
    * Spark's own operators do once they know their peak; listeners read
    * it from the task's end event. */
  def reportPeakExecutionMemory(ctx: TaskContext, bytes: Long): Unit =
    ctx.taskMetrics().incPeakExecutionMemory(bytes)

  /** The Tungsten page size of `spark`'s memory manager; in local mode
    * the executor is the driver JVM. */
  def pageSizeBytes(spark: SparkSession): Long =
    spark.sparkContext.env.memoryManager.pageSizeBytes

  /** A frame over `rows`, which must match `schema`. */
  def frame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
