package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, Literal, Murmur3Hash, Pmod, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graft.V2Shims
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.TxTable

/** NATIVE V2 row-level operations for txtables — the `SupportsDelta`
  * (`WriteDelta`) shape of Spark's `SupportsRowLevelOperations`:
  * `UPDATE graft.default.t SET …`, `MERGE INTO graft.default.t …`,
  * and non-pushable `DELETE`s plan through Spark's OWN analyzer
  * rewrites (RewriteUpdateTable / RewriteMergeIntoTable /
  * RewriteDeleteFromTable) with NO parser seam involved — a session
  * without GraftExtensions, or a third-party tool emitting Spark's
  * `UpdateTable`/`MergeIntoTable` plans, writes transactionally.
  *
  * Delta-based (merge-on-read), not group-based: the row id is
  * (manifest entry path, parquet row index) — exactly the deletion-
  * vector key — so matched rows fold into a DV side-file and only
  * REPLACEMENT/INSERTED rows write data files: O(changed rows), never
  * O(bytes of touched files). The scan half serves the row id through
  * the table's metadata columns ([[org.apache.spark.sql.graft.V2Shims.FileMetaCol]]/
  * [[org.apache.spark.sql.graft.V2Shims.PosMetaCol]]); the write half
  * runs executor-side parquet writers (partition-dir / bucket routing
  * per row) and commits once on the driver
  * ([[graft.core.TxTable.commitDeltaNative]]) under the table's one
  * conflict rule: every base file counts as read, so a racing commit
  * that changed or added a file refuses.
  *
  * Reference surface: resources/spark.py:65-67 (Delta session) — the
  * reference's users run exactly these statements through Delta's
  * row-level-operation implementation; this is the engine's own.
  */
final class GraftRowLevelOperation(location: String, tableName: String,
    baseVersion: Long, info: RowLevelOperationInfo)
    extends RowLevelOperation with SupportsDelta {

  private def spark: SparkSession = SparkSession.active

  override def command(): RowLevelOperation.Command = info.command

  override def description(): String =
    s"graft ${info.command} $tableName v$baseVersion"

  /** The discovery scan: the SAME manifest-planned scan as a plain
    * read (zone-map file skipping from the pushed WHERE), pinned at
    * the operation's base version — the write's conflict check
    * refuses any racing commit that changed or added a file. Metadata columns requested
    * by the rewrite switch it onto per-file row-id partitions. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark,
      TxTable(spark, location).v2ScanInfo(baseVersion), tableName)

  override def newWriteBuilder(lwi: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteBuilder(location, baseVersion,
      info.command.toString.toLowerCase(java.util.Locale.ROOT), lwi)

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(V2Shims.FileMetaCol),
    Expressions.column(V2Shims.PosMetaCol))

  /** UPDATE rows arrive as `update(meta, id, row)` (not split into
    * delete+insert): the writer routes the id onto the UPDATE
    * deletion-vector fragment and the row into UPDATE-tagged data
    * files, so CDF capture can emit update_preimage/update_postimage
    * (the seam's change-type vocabulary) instead of delete+insert. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false
}

private final class GraftDeltaWriteBuilder(location: String,
    baseVersion: Long, opName: String, lwi: LogicalWriteInfo)
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = {
    val spark = SparkSession.active
    val ctx = TxTable(spark, location).deltaWriteContext(baseVersion)
    val rowIdNames = lwi.rowIdSchema()
      .map[Seq[String]](s => s.fieldNames.toSeq)
      .orElse(Seq(V2Shims.FileMetaCol, V2Shims.PosMetaCol))
    new GraftDeltaWrite(location, ctx, opName,
      lwi.schema().fieldNames.toSeq, rowIdNames)
  }
}

private final class GraftDeltaWrite(location: String,
    ctx: TxTable.DeltaWriteContext, opName: String,
    dataNames: Seq[String], rowIdNames: Seq[String]) extends DeltaWrite
    with RequiresDistributionAndOrdering {
  override def description(): String = s"graft delta $opName"
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(location, ctx, opName, dataNames, rowIdNames)

  /** Cluster replacement/insert rows by the table's layout before the
    * writers see them: without this, a 1000-task MERGE against a
    * 1000-partition table writes up to tasks × dirs files per commit
    * (the small-file catastrophe the driver-side writes avoid via
    * repartition — see TxTable.bucketedWriteFrame). Bucketed layouts
    * cluster on the catalog's own `bucket(n, keys)` transform
    * (resolved through the FunctionCatalog — writer-identical ids);
    * hive layouts on the partition columns; flat tables need nothing. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (opName == "delete")
      // a pure DELETE's plan carries only (operation, row id): cluster
      // by the row id's file column so each file's deleted positions
      // land in ONE task's DV fragment
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        Array(Expressions.column(V2Shims.FileMetaCol)))
    else ctx.bucketSpec match {
      case Some((cols, n)) =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          Array(Expressions.bucket(n, cols: _*)))
      case None if ctx.partitionCols.nonEmpty =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          ctx.partitionCols.map(c =>
            Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression
          ).toArray)
      case None =>
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
}

/** One message per task: the root-relative paths it committed. */
private final case class GraftDeltaMessage(insertFiles: Seq[String],
    updateFiles: Seq[String], deleteFrags: Seq[String],
    updateFrags: Seq[String]) extends WriterCommitMessage

private final class GraftDeltaBatchWrite(location: String,
    ctx: TxTable.DeltaWriteContext, opName: String,
    dataNames: Seq[String], rowIdNames: Seq[String]) extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    new GraftDeltaWriterFactory(ctx, dataNames, rowIdNames)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.collect { case m: GraftDeltaMessage => m }
    TxTable(SparkSession.active, location).commitDeltaNative(ctx, opName,
      insertFiles = ms.flatMap(_.insertFiles),
      updateFiles = ms.flatMap(_.updateFiles),
      deleteFrags = ms.flatMap(_.deleteFrags),
      updateFrags = ms.flatMap(_.updateFrags))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.collect { case m: GraftDeltaMessage => m }
    TxTable(SparkSession.active, location).abortDeltaNative(ctx,
      ms.flatMap(m => m.insertFiles ++ m.updateFiles))
  }
}

private final class GraftDeltaWriterFactory(ctx: TxTable.DeltaWriteContext,
    dataNames: Seq[String], rowIdNames: Seq[String])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(ctx, dataNames, rowIdNames, partitionId, taskId)
}

/** The DATA-FILE half of an executor-side write, shared by the
  * row-level delta writers and the plain batch writers. Incoming rows
  * carry the table's LOGICAL data schema (`dataNames` order); data
  * files write the full PHYSICAL file schema — the bucket column (for
  * bucketed layouts) computes per row with the layout writer's exact
  * hash (`pmod(murmur3(keys), n)`), and rows route into hive-
  * partition / bucket shadow dirs (`__pt_c=v`) so the driver's entry
  * listing re-derives the layout exactly like a driver-side write. */
private[sources] final class TaskDataFileWriter(
    ctx: TxTable.DeltaWriteContext, dataNames: Seq[String],
    partitionId: Int, taskId: Long) {

  private val incomingIdx: Map[String, Int] =
    dataNames.zipWithIndex.map { case (n, i) =>
      n.toLowerCase(java.util.Locale.ROOT) -> i
    }.toMap
  private def srcExpr(logicalName: String): Expression = {
    val full = ctx.fullLogicalSchema
    val i = incomingIdx.getOrElse(
      logicalName.toLowerCase(java.util.Locale.ROOT),
      sys.error(s"write frame lacks column $logicalName " +
        s"(has ${dataNames.mkString(", ")})"))
    val dt = full.fields.find(_.name.equalsIgnoreCase(logicalName))
      .map(_.dataType).getOrElse(StringType)
    BoundReference(i, dt, nullable = true)
  }

  private lazy val bucketExpr: Option[Expression] = ctx.bucketSpec.map {
    case (cols, n) =>
      // byte-identical to the layout writer (TxTable.withBucket) and
      // the catalog's served bucket function: pmod(murmur3(keys), n)
      Pmod(new Murmur3Hash(cols.map(srcExpr)), Literal(n, IntegerType))
  }

  // incoming logical row → full physical file row
  private lazy val outProj: UnsafeProjection = UnsafeProjection.create(
    ctx.fullLogicalSchema.fields.map { f =>
      if (f.name == TxTable.BucketColName)
        bucketExpr.getOrElse(sys.error(
          s"schema has ${TxTable.BucketColName} but no bucket spec"))
      else srcExpr(f.name)
    }.toIndexedSeq)

  // incoming logical row → partition-dir values, rendered as strings
  // (session-zone casts — the same rendering a driver-side
  // partitionBy write produces for scalar partition values)
  private val tz: String = Option(ctx.dataConf.value.get(
    org.apache.spark.sql.internal.SQLConf.SESSION_LOCAL_TIMEZONE.key))
    .getOrElse("UTC")
  private lazy val partProj: UnsafeProjection = UnsafeProjection.create(
    ctx.partitionCols.map { c =>
      val e = if (c == TxTable.BucketColName) bucketExpr.get else srcExpr(c)
      Cast(e, StringType, Some(tz)): Expression
    }.toIndexedSeq)

  private val uid = java.util.UUID.randomUUID().toString.take(8)
  // (dirKey, tag) → open writer
  private val dataWriters = mutable.Map.empty[(String, String),
    org.apache.spark.sql.execution.datasources.OutputWriter]
  private val filesByTag = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
  private var fileSeq = 0

  private def dirKeyOf(row: InternalRow): String = {
    val vals = partProj(row)
    ctx.partitionCols.zipWithIndex.map { case (c, i) =>
      val v =
        if (vals.isNullAt(i))
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME
        else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(vals.getUTF8String(i).toString)
      s"${TxTable.PartShadowPrefixName}$c=$v"
    }.mkString("/")
  }

  def write(row: InternalRow, tag: String): Unit = {
    val key = (dirKeyOf(row), tag)
    val w = dataWriters.getOrElseUpdate(key, {
      fileSeq += 1
      val dir = if (key._1.isEmpty) "" else s"${key._1}/"
      val rel = s"data/w-${ctx.writeId}/$dir$tag-$partitionId-$taskId-$uid-$fileSeq.parquet"
      filesByTag.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += rel
      V2Shims.taskParquetWriter(ctx.dataConf, s"${ctx.rootStr}/$rel",
        partitionId, taskId)
    })
    w.write(outProj(row))
  }

  def files(tag: String): Seq[String] =
    filesByTag.get(tag).map(_.toSeq).getOrElse(Nil)

  def allFiles: Seq[String] = filesByTag.values.flatten.toSeq

  def closeAll(): Unit = {
    dataWriters.values.foreach(_.close())
    dataWriters.clear()
  }

  /** Best-effort delete of every file this task wrote (abort path). */
  def deleteAll(): Unit = allFiles.foreach { rel =>
    try {
      val p = new Path(s"${ctx.rootStr}/$rel")
      p.getFileSystem(ctx.dataConf.value).delete(p, false); ()
    } catch { case _: java.io.IOException => () }
  }
}

/** The executor half of a native row-level operation: the shared
  * [[TaskDataFileWriter]] for replacement/inserted rows, plus
  * deleted/updated row ids streamed straight into parquet DV
  * fragments (no in-memory position buffering — a task's delete
  * volume never pressures its heap). */
private final class GraftDeltaWriter(ctx: TxTable.DeltaWriteContext,
    dataNames: Seq[String], rowIdNames: Seq[String], partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private val dataWriter =
    new TaskDataFileWriter(ctx, dataNames, partitionId, taskId)

  private val idFileIdx = rowIdNames.indexWhere(
    _.equalsIgnoreCase(V2Shims.FileMetaCol))
  private val idPosIdx = rowIdNames.indexWhere(
    _.equalsIgnoreCase(V2Shims.PosMetaCol))
  require(idFileIdx >= 0 && idPosIdx >= 0,
    s"row-id schema $rowIdNames lacks the graft row-id columns")

  private val uid = java.util.UUID.randomUUID().toString.take(8)
  private val deleteFrags = mutable.ArrayBuffer.empty[String]
  private val updateFrags = mutable.ArrayBuffer.empty[String]
  private var deleteFragWriter
      : org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var updateFragWriter
      : org.apache.spark.sql.execution.datasources.OutputWriter = _
  private val fragRow = new GenericInternalRow(2)

  private def writeData(row: InternalRow, isUpdate: Boolean): Unit =
    dataWriter.write(row, if (isUpdate) "u" else "i")

  private def writeFrag(id: InternalRow, isUpdate: Boolean): Unit = {
    val w =
      if (isUpdate) {
        if (updateFragWriter == null) {
          val rel = s"tmp/dvfrag-${ctx.writeId}/u-$partitionId-$taskId-$uid.parquet"
          updateFrags += rel
          updateFragWriter = V2Shims.taskParquetWriter(ctx.fragConf,
            s"${ctx.rootStr}/$rel", partitionId, taskId)
        }
        updateFragWriter
      } else {
        if (deleteFragWriter == null) {
          val rel = s"tmp/dvfrag-${ctx.writeId}/d-$partitionId-$taskId-$uid.parquet"
          deleteFrags += rel
          deleteFragWriter = V2Shims.taskParquetWriter(ctx.fragConf,
            s"${ctx.rootStr}/$rel", partitionId, taskId)
        }
        deleteFragWriter
      }
    fragRow.update(0, id.getUTF8String(idFileIdx).copy())
    fragRow.update(1, id.getLong(idPosIdx))
    w.write(fragRow)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    writeFrag(id, isUpdate = false)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    writeFrag(id, isUpdate = true)
    writeData(row, isUpdate = true)
  }

  override def insert(row: InternalRow): Unit =
    writeData(row, isUpdate = false)

  private def closeAll(): Unit = {
    dataWriter.closeAll()
    if (deleteFragWriter != null) { deleteFragWriter.close(); deleteFragWriter = null }
    if (updateFragWriter != null) { updateFragWriter.close(); updateFragWriter = null }
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftDeltaMessage(dataWriter.files("i"), dataWriter.files("u"),
      deleteFrags.toSeq, updateFrags.toSeq)
  }

  override def abort(): Unit = {
    try closeAll() catch { case _: java.io.IOException => () }
    dataWriter.deleteAll()
    val conf = ctx.dataConf.value
    (deleteFrags ++ updateFrags).foreach { rel =>
      try {
        val p = new Path(s"${ctx.rootStr}/$rel")
        p.getFileSystem(conf).delete(p, false); ()
      } catch { case _: java.io.IOException => () }
    }
  }

  override def close(): Unit = closeAll()
}

/** What a native batch write publishes at driver commit. */
private[sources] sealed trait GraftWriteMode
private[sources] object GraftWriteMode {
  case object Append extends GraftWriteMode
  case object ReplaceAll extends GraftWriteMode
  final case class ReplaceWhere(
      filters: Seq[org.apache.spark.sql.sources.Filter]) extends GraftWriteMode
  case object Dynamic extends GraftWriteMode
}

/** NATIVE V2 batch write — `AppendData`, `OverwriteByExpression`
  * (AlwaysTrue = truncate, filtered = replaceWhere), and
  * `OverwritePartitionsDynamic` all execute through executor-side
  * task writers + one driver manifest commit, retiring the
  * `V1Write`/`InsertableRelation` fallback entirely: per-task commit
  * messages (exactly the files written — stray files from aborted
  * attempts never enter the manifest), layout-clustering distribution
  * requests, and abort cleanup — the machinery the row-level path
  * already proved, applied to the common writes. */
private[sources] final class GraftNativeWrite(location: String,
    ctx: TxTable.DeltaWriteContext, mode: GraftWriteMode,
    dataNames: Seq[String]) extends Write
    with RequiresDistributionAndOrdering {
  override def description(): String = s"graft native $mode"
  override def toBatch: BatchWrite =
    new GraftNativeBatchWrite(location, ctx, mode, dataNames)

  /** Cluster rows by the table's layout before the writers see them —
    * files per commit ∝ layout dirs, never tasks × dirs (the same
    * requirement the delta write declares). */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    ctx.bucketSpec match {
      case Some((cols, n)) =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          Array(Expressions.bucket(n, cols: _*)))
      case None if ctx.partitionCols.nonEmpty =>
        org.apache.spark.sql.connector.distributions.Distributions.clustered(
          ctx.partitionCols.map(c =>
            Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression
          ).toArray)
      case None =>
        org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty
}

private final case class GraftBatchMessage(files: Seq[String])
    extends WriterCommitMessage

private final class GraftNativeBatchWrite(location: String,
    ctx: TxTable.DeltaWriteContext, mode: GraftWriteMode,
    dataNames: Seq[String]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = new GraftBatchWriterFactory(ctx, dataNames)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq
      .collect { case m: GraftBatchMessage => m.files }.flatten
    val t = TxTable(SparkSession.active, location)
    mode match {
      case GraftWriteMode.Append =>
        t.commitBatchNative(ctx, files, replaceAll = false)
      case GraftWriteMode.ReplaceAll =>
        t.commitBatchNative(ctx, files, replaceAll = true)
      case GraftWriteMode.ReplaceWhere(filters) =>
        t.commitReplaceWhereNative(ctx, filters, files)
      case GraftWriteMode.Dynamic =>
        t.commitDynamicNative(ctx, files)
    }
    ()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq
      .collect { case m: GraftBatchMessage => m.files }.flatten
    TxTable(SparkSession.active, location).abortDeltaNative(ctx, files)
  }
}

private final class GraftBatchWriterFactory(ctx: TxTable.DeltaWriteContext,
    dataNames: Seq[String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val w = new TaskDataFileWriter(ctx, dataNames, partitionId, taskId)
    override def write(row: InternalRow): Unit = w.write(row, "i")
    override def commit(): WriterCommitMessage = {
      w.closeAll(); GraftBatchMessage(w.allFiles)
    }
    override def abort(): Unit = {
      try w.closeAll() catch { case _: java.io.IOException => () }
      w.deleteAll()
    }
    override def close(): Unit = w.closeAll()
  }
}
