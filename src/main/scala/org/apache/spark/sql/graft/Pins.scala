package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way the engine pins a frame and frees it again.
  *
  * A pin is an eager `localCheckpoint`: one evaluation, its rows held
  * as blocks of the checkpoint's own RDD, its lineage truncated.
  * `Dataset.unpersist()` does not touch those blocks (it only uncaches
  * `cache()`d plans), so a pin is freed by unpersisting the RDD at the
  * root of its analyzed plan. The blocks are gone once [[release]]
  * returns: loops re-pin large state back-to-back, and an async release
  * lets dead copies stack against the live one. The checkpoint cannot
  * be recomputed, so an action on a released frame fails with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`: a release must be the frame's
  * last use. A frame that a lazily returned result still reads stays
  * pinned. */
object Pins {

  /** Pin `df` at the checkpoint's default level (`MEMORY_AND_DISK`),
    * a measured choice: on g4 at 10× DISK_ONLY cost ~45 % and
    * MEMORY_AND_DISK_SER ~18 % more, and the default completes the 100×
    * run by block-level spill.
    * `serialized` pins `MEMORY_AND_DISK_SER` instead, for state
    * measured too large to stay memory-resident as row objects
    * ([[graft.core.Parallelism.resizeCheckpoint]]). */
  def pin(df: DataFrame, serialized: Boolean = false): DataFrame =
    if (serialized) df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    else df.localCheckpoint(true)

  /** Free the blocks of each pinned frame, blocking. Refuses a frame
    * whose analyzed plan is not a pin at its root. */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case other => throw new IllegalArgumentException(
        s"Pins.release: the frame is not a pin (its plan's root is " +
          s"${other.nodeName}, not a checkpoint's LogicalRDD)")
    }
  }
}
