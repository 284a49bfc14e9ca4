package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.Pins
import org.apache.spark.storage.StorageLevel

/** The one audited "how many partitions for THIS data" policy —
  * extracted so iterative loops, index builds, and bucketed layouts
  * share a single sizing rule instead of per-site constants (the
  * round-11 audit's finding: the graph loops pinned the SESSION's
  * shuffle-partition count, which at 100× left ~3.7 M rows per
  * partition sorting and spilling — a fixed count can't be right at
  * two scales, so the count must come from the data).
  *
  * The input is the BLOCK MANAGER's own byte accounting of the
  * materialized state (not a Catalyst estimate, which for a
  * several-join closure is junk): callers checkpoint once at the
  * session default, measure, and re-layout only when the measured
  * partitions are oversized. The one extra exchange is paid only when
  * the data demanded it, and is amortized over every loop round that
  * follows.
  *
  * Reference anchor: the reference sizes its cluster parallelism from
  * input scale per pipeline (ascii-hydra `resources/emr.py:30-52`
  * instance counts by input size); this is the same policy applied to
  * partition counts inside one job. */
object Parallelism {

  /** `calculate_parallelism` (reference `pipes/utils.py:65-71`):
    * shuffle parallelism from input record count, clamped to
    * [200, 90000]. With AQE coalescing on this is an upper bound, not
    * a target. */
  def calculate(recordCount: Long): Int =
    if (recordCount >= 90000) 90000
    else math.max(200, (recordCount / 4).toInt)

  /** Record count from a line-oriented text input — the reference
    * counts via `sparkContext.textFile` (`pipes/utils.py:66`); the
    * Dataset reader keeps it in the SQL engine. */
  def recordCount(spark: org.apache.spark.sql.SparkSession,
      inputPath: String): Long =
    spark.read.textFile(inputPath).count()

  /** Target bytes of MATERIALIZED (cached-row) state per partition.
    * Cached deserialized rows run ~2–4× parquet size, so 128 MiB here
    * corresponds to a conventional 32–64 MiB parquet split — small
    * enough that a per-partition sort or hash agg stays in memory,
    * large enough that task overhead stays noise. */
  val TargetBytesPerPartition: Long = 128L << 20

  /** Ceiling: a loop should never schedule more tasks per round than
    * a real cluster has cores by orders of magnitude. */
  val MaxPartitions: Int = 1 << 16

  /** Partition count for `bytes` of materialized state: never fewer
    * than `minParts` (the session's parallelism — small data should
    * still use every core), never more than [[MaxPartitions]]. */
  def partitionsFor(bytes: Long, minParts: Int): Int = {
    val ideal = math.ceil(bytes.toDouble / TargetBytesPerPartition).toLong
    math.max(minParts.toLong, math.min(MaxPartitions.toLong, ideal)).toInt
  }

  /** Byte size of an already-persisted frame (cache or
    * localCheckpoint), from the block manager's storage accounting:
    * walks the RDD lineage to the first persisted ancestor and reads
    * its mem+disk footprint. None when nothing is persisted (or the
    * blocks are gone) — callers fall back to their static count. */
  def persistedBytes(df: DataFrame): Option[Long] = {
    def firstPersisted(r: org.apache.spark.rdd.RDD[_]): Option[Int] =
      if (r.getStorageLevel != StorageLevel.NONE) Some(r.id)
      else r.dependencies.view.flatMap(d => firstPersisted(d.rdd)).headOption
    val sc = df.sparkSession.sparkContext
    firstPersisted(df.queryExecution.toRdd)
      .flatMap(id => sc.getRDDStorageInfo.find(_.id == id))
      .map(i => i.memSize + i.diskSize)
  }

  /** Measured partition count for an already-checkpointed iteration
    * state: [[partitionsFor]] of its [[persistedBytes]]. Equal to
    * `currentParts` when the state is small or unmeasurable. */
  def measuredParts(df: DataFrame, currentParts: Int): Int =
    persistedBytes(df).map(b => partitionsFor(b, currentParts))
      .getOrElse(currentParts)

  /** Fraction of the cluster's unified memory above which an
    * iteration state re-checkpoints SERIALIZED: a deserialized cache
    * larger than this can't stay memory-resident next to execution
    * memory, so every loop round pays disk reads of fat row objects —
    * the measured g5 100× profile (344 s warm, ~22×/decade, state
    * ~25 GB vs 48 GB heap). Serialized UnsafeRow pages run several ×
    * smaller and decode cheaper than they re-read. */
  val SerializeAboveMemFraction = 0.3

  /** Unified (storage+execution) memory across executors, from the
    * public executor status map. */
  def clusterMaxMemory(df: DataFrame): Long =
    df.sparkSession.sparkContext.getExecutorMemoryStatus
      .values.map(_._1).sum

  /** Re-layout a pinned iteration state when (and only when) its
    * measured ideal partition count exceeds the current one by ≥ 1.5×:
    * one hash exchange on `key` (plus an in-partition sort when
    * `sorted` — recorded in the checkpoint so downstream sort-merge
    * joins skip their per-round sort on this side), then a fresh pin;
    * the old pin is released ([[Pins.release]], blocking). States
    * measured past [[SerializeAboveMemFraction]] of cluster memory
    * re-pin MEMORY_AND_DISK_SER. Returns the input unchanged when the
    * current layout is already right — small data never pays the
    * exchange. */
  def resizeCheckpoint(df: DataFrame, currentParts: Int, key: Column,
      sorted: Boolean = false): DataFrame = {
    val bytes = persistedBytes(df)
    val target = bytes.map(b => partitionsFor(b, currentParts))
      .getOrElse(currentParts)
    val serialize = bytes.exists(_ >
      clusterMaxMemory(df) * SerializeAboveMemFraction)
    if (target * 2 <= currentParts * 3 && !serialize) df
    else {
      val laid0 =
        if (target == currentParts) df else df.repartition(target, key)
      val laid = if (sorted) laid0.sortWithinPartitions(key) else laid0
      val out = Pins.pin(laid, serialized = serialize)
      Pins.release(df)
      out
    }
  }
}
