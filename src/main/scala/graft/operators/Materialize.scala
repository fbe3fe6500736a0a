package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place the engine materializes a frame. [[checkpoint]] cuts
  * lineage: later plans read stored blocks and never re-run or re-embed
  * the upstream plan, but the planner loses the output partitioning.
  * [[cache]] keeps the plan and its partitioning, for a second pass
  * that must read the same partitions or join on them.
  *
  * Both store at `MEMORY_AND_DISK_SER`: packed bytes instead of one JVM
  * object per row, a ~3x smaller footprint, which is what bounds a
  * local[n] driver or an executor's storage once a corpus is 10-100x
  * the test scale (a factor-100 smoke of the n-gram dedup chain
  * GC-thrashed on two deserialized checkpoints of a ~150M-row shingle
  * table). Most consumers are shuffles that re-serialize anyway.
  *
  * A LOCAL checkpoint keeps its blocks only in executor storage: a lost
  * block fails the next read with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`
  * instead of recomputing. A RELIABLE one writes to the session's
  * checkpoint dir and survives block loss. `MaterializeSpec` checks
  * both. */
private[graft] object Materialize {

  private val level = StorageLevel.MEMORY_AND_DISK_SER

  /** `df` with its lineage cut; `eager` runs one job now. A lazy local
    * checkpoint is complete only once ONE job has computed every
    * partition. `reliable` writes to the checkpoint dir. */
  def checkpoint(df: DataFrame, eager: Boolean = true,
      reliable: Boolean = false): DataFrame =
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager, level)

  /** Fails unless the lazy checkpoint `ck` has every partition stored.
    * Spark marks a local checkpoint done only after the first job that
    * reads it, once every partition is stored: partitions the job did
    * not compute (a `limit`, say) are computed then by a job of its
    * own. So this holds after any action over `ck`, and fails by name
    * for a checkpoint that no job has read. */
  def requireFilled(ck: DataFrame): Unit = ck.queryExecution.logical match {
    case r: LogicalRDD => if (!r.rdd.isCheckpointed)
      throw new IllegalStateException("lazy checkpoint not filled: no " +
        s"job has stored all ${r.rdd.partitions.length} partitions of RDD ${r.rdd.id}")
    case p => throw new IllegalArgumentException(
      s"requireFilled: not a checkpoint but ${p.nodeName}")
  }

  /** `df` cached, filled by its first action. */
  def cache(df: DataFrame): DataFrame = df.persist(level)

  /** Free a frame returned by [[checkpoint]] or [[cache]] once nothing
    * reads it. A checkpoint is not in the CacheManager, so
    * `Dataset.unpersist` would free nothing: its RDD is unpersisted. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }
}
