package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.StreamShims
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.TxTable

/** Structured Streaming SOURCE over a [[graft.core.TxTable]] —
  * `spark.readStream.format("txtable").load(dir)` — closing the loop
  * the change-feed surfaces left open: instead of hand-polling
  * [[TxTable.changesSince]] with home-grown checkpointing, a consumer
  * gets the engine's offset log, exactly-once batch replay, and
  * restart-without-rescan for free. Mirrors the role of Delta's
  * streaming source in the reference's pipeline chains (assets feed
  * assets incrementally —
  * `papers/multi_platform_orchestration/paper.md:150-156`).
  *
  * Offset model: a microbatch is a TABLE-VERSION WINDOW. `LongOffset(v)`
  * means "all commits ≤ v consumed"; `getOffset` surfaces the latest
  * committed version, `getBatch((s, e])` serves exactly the rows those
  * commits added. Three read modes:
  *
  *   - default: batch 0 is the FULL SNAPSHOT at the then-latest
  *     version (pinned by the offset, so crash-replay of batch 0 is
  *     deterministic), later batches the appended rows per
  *     [[TxTable.changesSince]] — Delta's "initial snapshot then
  *     tail" semantics;
  *   - `sinceVersion = v`: skip the snapshot, serve only rows
  *     appended AFTER version v (exclusive — the checkpoint-resume
  *     contract of [[TxTable.changesSince]]);
  *   - `changeFeed = true` (requires `sinceVersion`): serve row-level
  *     [[TxTable.changeFeed]] records — `_change_type` +
  *     `_commit_version` columns — so merges/deletes flow to the
  *     consumer as pre/post-image rows instead of resetting the feed.
  *
  * A rewrite the mode cannot represent (overwrite/merge/delete in
  * append mode; any uncaptured rewrite in CDF mode) fails the stream
  * with the readers' explicit reset signal rather than silently
  * skipping or rescanning — the consumer restarts from a snapshot,
  * exactly as documented on [[TxTable.changesSince]].
  *
  * Scale: planning is manifest-only (the version window maps to file
  * lists through the commit log's deltas — no listing, no snapshot
  * reconstruction on the happy path), and each batch scans only the
  * files its commits added, so a 10⁶-file table streams at
  * O(new data) per trigger. `maxVersionsPerTrigger` bounds how many
  * commits one microbatch may cover (backlog catch-up control, the
  * `maxFilesPerTrigger` analogue).
  */
final class TxTableSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {
  import TxTableSource._

  override def shortName(): String = "txtable"

  /** BATCH write surface — `df.write.format("txtable").mode(...)
    * .load-side options(partitionBy / bucketBy+buckets).save(dir)`.
    * SaveModes map onto the commit log: Overwrite = a new overwrite
    * snapshot (old versions stay time-travelable), Append = an append
    * commit, ErrorIfExists/Ignore consult the commit log. Layout
    * options apply to the snapshot-creating write (overwrite); an
    * append inherits the current snapshot's layout rules. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val t = TxTable(spark, path)
    val partitionBy = parameters.get(OptPartitionBy)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val bucketCols = parameters.get(OptBucketBy)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    def fullWrite(): Unit =
      if (bucketCols.nonEmpty)
        t.overwriteBucketed(data, bucketCols,
          parameters.get(OptBuckets).map(_.toInt).getOrElse(16))
      else t.overwrite(data, partitionBy)
    val exists = TxTable.isTable(spark, path)
    var wrote = false
    mode match {
      case SaveMode.Overwrite                 => fullWrite(); wrote = true
      case SaveMode.Append if exists          => t.append(data); wrote = true
      case SaveMode.Append                    => fullWrite(); wrote = true
      case SaveMode.ErrorIfExists if exists   =>
        sys.error(s"$path is already a TxTable (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists             => fullWrite(); wrote = true
      case SaveMode.Ignore if exists          => ()
      case SaveMode.Ignore                    => fullWrite(); wrote = true
    }
    // feature-flag options persist as table properties (one extra
    // metadata commit, only when requested and actually written)
    val props = Seq(
      OptDeletionVectors -> TxTable.PropDeletionVectors,
      OptChangeDataFeed  -> TxTable.PropChangeDataFeed,
      OptStatsOnWrite    -> TxTable.PropStatsOnWrite)
      .flatMap { case (opt, prop) => parameters.get(opt).map(prop -> _) }
      .toMap
    if (wrote && props.nonEmpty) { t.setProperties(props); () }
    createRelation(sqlContext, parameters)
  }

  /** STREAMING sink surface — `df.writeStream.format("txtable")`:
    * each microbatch commits with a per-query txn tag, so a replayed
    * batch no-ops and the sink is exactly-once end-to-end
    * (the [[graft.streaming.EventsStream.upsertBatchTx]] discipline);
    * a checkpoint RESET against a live table fails loudly instead of
    * silently dropping batches. OutputMode Complete overwrites the
    * snapshot per batch; Append/Update append. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val path = pathOf(parameters)
    val appId = parameters.getOrElse(OptTxnAppId, "txtable_sink")
    new TxTableSink(TxTable(sqlContext.sparkSession, path), appId,
      partitionColumns, outputMode)
  }

  /** BATCH read surface — `spark.read.format("txtable").load(dir)`,
    * with `versionAsOf` (time travel) or `sinceVersion` (the
    * change-window read, [[TxTable.changesSince]] semantics).
    * Snapshot reads return the manifest-planned relation: file
    * statuses come from the commit log (no directory listing) and the
    * scan's pushed data filters drop stat-excluded files before IO —
    * zone-map skipping on every format/SQL read. `sinceVersion` stays
    * a plain parquet relation over the appended file set (windows are
    * small by contract; pushdown/pruning are the parquet source's
    * own either way). */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val t = TxTable(sqlContext.sparkSession, pathOf(parameters))
    require(!parameters.contains(OptVersionAsOf) ||
      !parameters.contains(OptSinceVersion),
      s"$OptVersionAsOf and $OptSinceVersion are exclusive")
    parameters.get(OptVersionAsOf).map(_.toLong) match {
      case Some(v) => t.scanRelation(v)
      case None => parameters.get(OptTimestampAsOf) match {
        case Some(ts) => t.scanRelation(t.versionAt(parseTsMillis(ts))
          .getOrElse(sys.error(s"${t.location} has no snapshot committed " +
            s"at or before $ts — oldest retained commit is newer " +
            "(expired history cannot be time-traveled)")))
        case None => parameters.get(OptSinceVersion).map(_.toLong) match {
          // under column mapping the window's parquet columns carry
          // physical names — a rebuilt file-list relation with the
          // logical schema would null them out; serve the (already
          // renamed) frame through the filter-forwarding relation
          case Some(s) if t.hasColumnMapping =>
            org.apache.spark.sql.graft.StreamShims
              .dataFrameRelation(t.changesSince(s))
          case Some(s) => org.apache.spark.sql.graft.StreamShims
            .batchParquetRelation(t.changesSince(s))
          case None => t.scanRelation(t.latestVersion.getOrElse(
            sys.error(s"${t.location} has no committed snapshots")))
        }
      }
    }
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), sourceSchemaFor(sqlContext, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val cdf = parameters.get(OptChangeFeed).exists(_.toBoolean)
    val since = parameters.get(OptSinceVersion).map(_.toLong)
    new TxTableSource(TxTable(spark, pathOf(parameters)),
      sourceSchemaFor(sqlContext, parameters), since, cdf,
      parameters.get(OptMaxVersions).map(_.toLong))
  }
}

final class TxTableSource(table: TxTable, override val schema: StructType,
    sinceVersion: Option[Long], changeFeed: Boolean,
    maxVersionsPerTrigger: Option[Long])
    extends Source with SupportsTriggerAvailableNow {
  import TxTableSource._

  /** Highest version already planned into some batch — the rate-limit
    * anchor. Seeded by the recovered offsets the engine replays
    * through [[getBatch]] on restart, so a restarted query limits
    * from its checkpoint, not from scratch. */
  private var planned: Option[Long] = None

  /** Latest version at AvailableNow-query start: the run drains up TO
    * here (in rate-limited steps) and terminates, ignoring commits
    * that race in after — without this seam the engine would fall
    * back to single-batch Trigger.Once semantics and a version cap
    * would silently DROP the backlog past the first batch. */
  private var availableNowHorizon: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowHorizon = table.latestVersion
  }

  /** The version cap is applied inside [[latestOffset]] (versions are
    * not rows/files/bytes — none of the engine's limit shapes fit). */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** `startHint` is the engine's view of the consumed offset (the
    * start it will hand the next getBatch). It OUTRANKS the local
    * `planned` state: after a restart with every batch committed,
    * `planned` is unseeded, and rate-limiting from `sinceVersion`
    * alone would plan an offset BEHIND the checkpoint — the engine
    * would see no new data and the stream would never advance. */
  private def nextOffset(startHint: Option[Long]): Option[Long] = synchronized {
    table.latestVersion.flatMap { latestNow =>
      val latest = availableNowHorizon.fold(latestNow)(math.min(_, latestNow))
      val base = (startHint.toSeq ++ planned.toSeq ++ sinceVersion.toSeq)
        .reduceOption(_ max _)
      val next = (base, maxVersionsPerTrigger) match {
        case (Some(b), Some(n)) => math.min(latest, b + math.max(1L, n))
        // an initial snapshot is one indivisible batch — version
        // caps apply from the first incremental batch on
        case _                  => latest
      }
      if (base.exists(_ >= next)) None else Some(next)
    }
  }

  override def getOffset: Option[OffsetV1] = nextOffset(None).map(LongOffset(_))

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    nextOffset(Option(start).map(versionOf)).map(LongOffset(_)).orNull

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    val from = start.map(versionOf).orElse(sinceVersion)
    synchronized {
      planned = Some(planned.fold(endV)(math.max(_, endV)))
    }
    val batch = (from, changeFeed) match {
      case (Some(s), true)  => table.changeFeed(s, Some(endV))
      case (Some(s), false) => table.changesSince(s, Some(endV))
      case (None, false)    => table.readVersion(endV)
      // initial-snapshot-then-CDC (the Delta CDF consumer contract):
      // batch 0 serves the full snapshot AT the pinned offset version
      // with every row tagged an insert at that version; later batches
      // serve row-level changes — a consumer needs no separate
      // backfill query and no sinceVersion bookkeeping
      case (None, true)     =>
        import org.apache.spark.sql.functions.lit
        table.readVersion(endV)
          .withColumn(TxTable.ChangeTypeCol, lit("insert"))
          .withColumn(TxTable.CommitVersionCol, lit(endV))
    }
    // pin the declared column order, then mark the plan streaming
    // (MicroBatchExecution asserts isStreaming=true on V1 batch plans
    // before grafting them into the streaming plan). A deletion-vector
    // snapshot read is scan ⋈ anti-join — flagging every leaf would
    // make it a stream-stream join, so wrap it as ONE streaming leaf
    // over the batch-executed RDD instead.
    val ordered = batch.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    if (from.isEmpty && table.snapshotHasDv(endV))
      StreamShims.asStreamingBatch(ordered)
    else StreamShims.markStreaming(ordered)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxTableSource[${table.location}" +
    (if (changeFeed) ", changeFeed" else "") + "]"
}

/** Streaming sink: one commit per microbatch, exactly-once via the
  * manifest's txn tags keyed by `txnAppId` (default "txtable_sink" —
  * set it when several queries write the same table).
  *
  * OutputMode picks the commit verb: Append → append commit;
  * Complete → overwrite; Update → copy-on-write MERGE by key, where
  * the key columns are the sink's `partitionBy(...)` — the natural
  * fit for a streaming aggregation, whose Update output emits one
  * row per changed key per batch (rows must be unique per key within
  * a batch, which aggregation output guarantees). */
final class TxTableSink(table: TxTable, appId: String,
    partitionCols: Seq[String],
    outputMode: org.apache.spark.sql.streaming.OutputMode)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (table.committedBatch(appId, batchId)) return
    val txn = Some(appId -> batchId)
    // the engine's microbatch frame is streaming-flagged and refuses
    // .write — rewrap its planned execution as a batch frame
    val batch = org.apache.spark.sql.graft.StreamShims.asBatch(data)
    import org.apache.spark.sql.streaming.OutputMode
    if (table.latestVersion.isEmpty) {
      // first batch creates the table: Update mode needs the
      // key-bucketed layout its later merges rewrite by bucket
      if (outputMode == OutputMode.Update())
        table.overwriteBucketed(batch, keyCols(batch), UpdateBuckets, txn)
      else table.overwrite(batch, partitionCols, txn)
    } else if (outputMode == OutputMode.Complete())
      table.overwrite(batch, partitionCols, txn)
    else if (outputMode == OutputMode.Update())
      // MERGE per microbatch (the copy-on-write upsert shape):
      // source rows replace same-key rows, only touched buckets
      // rewrite; the microbatch frame is offset-pinned, so skip
      // the per-batch checkpoint
      table.upsert(batch, txn, sourceIsPinned = true)
    else table.append(batch, txn)
    ()
  }

  /** Update mode merges BY KEY: the key columns are the sink's
    * `partitionBy(...)` (the engine forwards them as partitioning),
    * falling back to the frame's first column. */
  private def keyCols(batch: DataFrame): Seq[String] =
    if (partitionCols.nonEmpty) partitionCols else Seq(batch.columns.head)

  private val UpdateBuckets = 64

  override def toString: String = s"TxTableSink[${table.location}]"
}

object TxTableSource {
  /** Serve only rows appended AFTER this version (exclusive) — skip
    * the initial snapshot. */
  val OptSinceVersion = "sinceVersion"
  /** Serve [[TxTable.changeFeed]] rows (`_change_type`,
    * `_commit_version`) instead of plain appends. */
  val OptChangeFeed = "changeFeed"
  /** Most table versions one microbatch may cover (≥ 1). */
  val OptMaxVersions = "maxVersionsPerTrigger"
  /** Batch reads: time travel to this snapshot version. */
  val OptVersionAsOf = "versionAsOf"
  /** Batch reads: time travel to the newest snapshot committed at or
    * before this instant (epoch millis, `yyyy-MM-dd HH:mm:ss[.f]`,
    * or `yyyy-MM-dd`). */
  val OptTimestampAsOf = "timestampAsOf"

  /** Accepts epoch millis, `yyyy-MM-dd HH:mm:ss[.f]`, `yyyy-MM-dd`. */
  private[sources] def parseTsMillis(s: String): Long = {
    val t = s.trim
    t.toLongOption.getOrElse {
      try java.sql.Timestamp.valueOf(t).getTime
      catch { case _: IllegalArgumentException =>
        java.sql.Date.valueOf(t).getTime
      }
    }
  }
  /** Batch writes: comma-separated hive-partition columns. */
  val OptPartitionBy = "partitionBy"
  /** Batch writes: comma-separated key-bucket columns (+ `buckets`). */
  val OptBucketBy = "bucketBy"
  /** Batch writes: bucket count for `bucketBy` (default 16). */
  val OptBuckets = "buckets"
  /** Streaming sink: txn app id for exactly-once commit tags. */
  val OptTxnAppId = "txnAppId"
  /** Batch writes: feature flags persisted as TABLE PROPERTIES on the
    * written snapshot — `deletionVectors`, `changeDataFeed`,
    * `statsOnWrite` (boolean strings). A property binds every future
    * writer, whatever its handle flags. */
  val OptDeletionVectors = "deletionVectors"
  val OptChangeDataFeed = "changeDataFeed"
  val OptStatsOnWrite = "statsOnWrite"

  private[sources] def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", sys.error(
      "txtable source needs .load(dir) or .option(\"path\", dir)"))

  /** The source's schema is AUTHORITATIVE from the table's latest
    * snapshot (plus the two CDF metadata columns in changeFeed mode);
    * a user-supplied `.schema(...)` is ignored — the commit log, not
    * the consumer, owns the table's shape. Appends never change
    * layout, so the schema is stable for the stream's lifetime; a
    * schema-evolving commit surfaces as an analysis error on the
    * batch that first crosses it. */
  private[sources] def sourceSchemaFor(sqlContext: SQLContext,
      parameters: Map[String, String]): StructType = {
    val data = TxTable(sqlContext.sparkSession, pathOf(parameters))
      .read().schema
    if (parameters.get(OptChangeFeed).exists(_.toBoolean))
      StructType(data.fields.toIndexedSeq :+
        StructField(TxTable.ChangeTypeCol, StringType) :+
        StructField(TxTable.CommitVersionCol, LongType, nullable = false))
    else data
  }

  /** Recovered offsets arrive as `SerializedOffset(json)`, live ones
    * as [[LongOffset]] — `json` is the version either way. */
  private def versionOf(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other         => other.json.trim.toLong
  }
}
