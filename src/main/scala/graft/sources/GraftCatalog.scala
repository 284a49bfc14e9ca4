package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{TxCatalog, TxTable}

/** DataSource-V2 `TableCatalog` over commit-logged txtables —
  * registered as `spark.sql.catalog.graft`, backed by the SAME
  * name registry the SQL seam uses ([[graft.core.TxCatalog]]), so
  * `graft.default.events` and the bare `events` resolve to one table.
  * What the V2 route adds over the parser seam (the reference's
  * session-catalog Delta usage, resources/spark.py:65-67):
  *
  *   - catalog enumeration: `SHOW TABLES IN graft`, `DESCRIBE TABLE
  *     graft.default.t`, `SHOW NAMESPACES IN graft` — third-party
  *     tools that walk the catalog see txtables;
  *   - '''storage-partitioned joins''': the scan reports the bucketed
  *     layout as `KeyGroupedPartitioning(bucket(n, keys))` with every
  *     input partition carrying its bucket id, so a plain SQL join of
  *     two bucketed txtables on their bucket keys plans with ZERO
  *     shuffle on either side — at 100 TB the fact-fact joins (graph
  *     build, state-table merges) are the dominant shuffle, and this
  *     makes the engine's own layout visible to the planner (the
  *     `BucketedTables` guarantee, through the engine's own format);
  *   - time travel through the V2 API: `VERSION AS OF` /
  *     `TIMESTAMP AS OF` route to `loadTable(ident, version)`.
  *
  * Requires `spark.sql.sources.v2.bucketing.enabled=true` (set by
  * [[graft.core.Sessions]]). Execution is Spark's own parquet reader
  * factory — vectorized decode, row-group pushdown — over the
  * manifest's file list with zone-map file skipping; only PLANNING is
  * the commit log's ([[org.apache.spark.sql.graft.V2Shims]]).
  *
  * Deletion vectors read merge-on-read through the V2 path too: a
  * DV-bearing snapshot switches to per-file partitions whose readers
  * ask parquet for its row-index column and drop listed positions
  * before anything downstream sees them (bucket ids preserved, so
  * SPJ survives a DELETE). Column-mapped snapshots (renames/drops
  * with frozen physical names) read through the V2 path as well: the
  * reader is handed PHYSICALLY-named fields in the logical order —
  * InternalRows are positional, so the rename is pure metadata and
  * `readSchema()` stays logical; pushed filters rename alongside. */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = "graft"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def spark: SparkSession = SparkSession.active
  private def registry: TxCatalog = TxCatalog(spark)

  /** Registry key of an identifier: the bare name lives in namespace
    * `default`, a `db.name` key in namespace `db`. Some exec nodes
    * (RenameTableExec's target) pass the catalog name as the leading
    * namespace segment — strip it. */
  private def keyOf(ident: Identifier): String = {
    val ns = ident.namespace.toSeq match {
      case head +: rest if head.equalsIgnoreCase(catalogName) => rest
      case other                                              => other
    }
    ns match {
      case Seq()          => ident.name
      case Seq("default") => ident.name
      case parts          => (parts :+ ident.name).mkString(".")
    }
  }
  private def identOf(key: String): Identifier = {
    val parts = key.split('.')
    if (parts.length == 1) Identifier.of(Array("default"), key)
    else Identifier.of(parts.init, parts.last)
  }
  private def nsOf(key: String): Seq[String] = {
    val parts = key.split('.')
    if (parts.length == 1) Seq("default") else parts.init.toSeq
  }

  // ---- TableCatalog -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val keys = registry.tables.keys.toSeq.sorted
    val wanted = namespace.toSeq
    val hit =
      if (wanted.isEmpty) keys
      else {
        if (wanted != Seq("default") && !keys.exists(nsOf(_) == wanted))
          throw new NoSuchNamespaceException(namespace)
        keys.filter(nsOf(_) == wanted)
      }
    hit.map(identOf).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    registry.lookup(keyOf(ident)).exists(TxTable.isTable(spark, _))

  override def loadTable(ident: Identifier): Table =
    loadPinned(ident, None)

  /** `VERSION AS OF` — the V2 time-travel hook. */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(version.forall(_.isDigit),
      s"graft catalog versions are commit numbers, got '$version'")
    loadPinned(ident, Some(version.toLong))
  }

  /** `TIMESTAMP AS OF` — micros since epoch, session-zone resolved
    * upstream by Spark. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val loc = locationOf(ident)
    val tx = TxTable(spark, loc)
    val v = tx.versionAt(timestampMicros / 1000L).getOrElse(
      throw new NoSuchTableException(ident))
    new GraftTable(spark, loc, fullName(ident), Some(v))
  }

  private def locationOf(ident: Identifier): String =
    registry.lookup(keyOf(ident)).filter(TxTable.isTable(spark, _))
      .getOrElse(throw new NoSuchTableException(ident))

  private def loadPinned(ident: Identifier, v: Option[Long]): Table =
    registry.lookup(keyOf(ident)).filter(TxTable.isTable(spark, _)) match {
      case Some(loc) => new GraftTable(spark, loc, fullName(ident), v)
      case None => metadataTableFor(ident, v).getOrElse(
        throw new NoSuchTableException(ident))
    }

  /** Iceberg-style METADATA TABLES: `SELECT * FROM graft.default.t.history`
    * (also `.files`, `.partitions`) — the trailing segment parses as the
    * identifier's name with the real table underneath it in the
    * namespace, so an unregistered lookup whose parent IS registered
    * serves the commit log as a queryable relation. Fully composable
    * (joins, filters, aggregates) where the DESCRIBE HISTORY verb is a
    * fixed report; `VERSION AS OF` pins `.files`/`.partitions` to that
    * snapshot's manifest. */
  private def metadataTableFor(ident: Identifier, v: Option[Long]): Option[Table] =
    if (GraftMetadataTable.kinds(ident.name.toLowerCase(java.util.Locale.ROOT))
        && ident.namespace.nonEmpty) {
      val parent = Identifier.of(ident.namespace.init, ident.namespace.last)
      registry.lookup(keyOf(parent)).filter(TxTable.isTable(spark, _))
        .map(loc => new GraftMetadataTable(spark, loc, fullName(ident),
          ident.name.toLowerCase(java.util.Locale.ROOT), v))
    } else None

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table =
    createImpl(ident, columns, partitions, properties)

  override def createTable(ident: Identifier, info: TableInfo): Table =
    createImpl(ident, info.columns(), info.partitions(), info.properties())

  private def createImpl(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table = {
    val key = keyOf(ident)
    if (registry.lookup(key).exists(TxTable.isTable(spark, _)))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    val explicitLoc = Option(properties.get(TableCatalog.PROP_LOCATION))
    val loc = explicitLoc.getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(wh),
        key.toLowerCase.replace('.', '/')).toString
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // layout from the declared transforms: identity cols → hive
    // partitioning, one bucket transform → the SPJ bucketed layout
    val (identityCols, bucketSpecs) = partitions.partition(_.name == "identity")
    val hiveCols = identityCols.map { t =>
      require(t.references.length == 1 && t.references.head.fieldNames.length == 1,
        s"unsupported partition transform $t")
      t.references.head.fieldNames.head
    }
    bucketSpecs.toSeq match {
      case Seq() =>
        val tx = TxTable(spark, loc)
        tx.overwrite(empty, hiveCols.toSeq)
      case Seq(b) if b.name == "bucket" =>
        require(hiveCols.isEmpty,
          "graft tables are bucketed OR hive-partitioned, not both")
        val nb = b.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
        }.getOrElse(sys.error(s"bucket transform without a count: $b"))
        val cols = b.references.map(_.fieldNames.head).toSeq
        TxTable(spark, loc).overwriteBucketed(empty, cols, nb)
      case other => sys.error(s"unsupported partition transforms: $other")
    }
    registry.register(key, loc, managed = explicitLoc.isEmpty)
    new GraftTable(spark, loc, fullName(ident), None)
  }

  /** V2 ALTER: table properties plus the SCHEMA-EVOLUTION changes —
    * add / rename / drop column and SET/DROP NOT NULL route onto the
    * same column-mapping metadata commits as the SQL seam (`ALTER
    * TABLE graft.default.t ADD COLUMN …` works like the bare-name
    * spelling; physical names frozen, zero data rewritten). Top-level
    * columns only — the commit log has no nested-field mapping. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val tx = TxTable(spark, locationOf(ident))
    def top(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"graft catalog ALTER $what supports top-level columns — " +
          s"got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    changes.foreach {
      case s: TableChange.SetProperty =>
        tx.setProperties(Map(s.property -> s.value)); ()
      case r: TableChange.RemoveProperty =>
        tx.unsetProperties(Seq(r.property)); ()
      case a: TableChange.AddColumn =>
        require(a.position == null,
          "graft catalog ALTER ADD COLUMN ignores ordering clauses — " +
            "columns append")
        tx.addColumn(top(a.fieldNames, "ADD COLUMN"), a.dataType); ()
      case rn: TableChange.RenameColumn =>
        tx.renameColumn(top(rn.fieldNames, "RENAME COLUMN"), rn.newName); ()
      case d: TableChange.DeleteColumn =>
        val name = top(d.fieldNames, "DROP COLUMN")
        val exists = tx.read().schema.fieldNames
          .exists(_.equalsIgnoreCase(name))
        if (exists) { tx.dropColumn(name); () }
        else require(d.ifExists != null && d.ifExists.booleanValue(),
          s"${tx.location} has no column $name")
      case n: TableChange.UpdateColumnNullability =>
        val name = top(n.fieldNames, "ALTER COLUMN")
        if (n.nullable) tx.dropNotNull(name) else tx.setNotNull(name)
        ()
      case other => sys.error(
        s"graft catalog ALTER does not support $other — use the " +
          "txtable SQL seam")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    registry.drop(keyOf(ident))

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!registry.rename(keyOf(oldIdent), keyOf(newIdent)))
      throw new NoSuchTableException(oldIdent)
  }

  // ---- SupportsNamespaces -------------------------------------------------

  private def namespaces: Seq[Seq[String]] =
    (registry.tables.keys.map(nsOf).toSeq :+ Seq("default"))
      .distinct.sortBy(_.mkString("."))

  override def listNamespaces(): Array[Array[String]] =
    namespaces.map(_.toArray).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespaces.contains(namespace.toSeq)
  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    () // namespaces materialize with their first table (registry-derived)
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    false // registry-derived; dropping the tables drops the namespace

  // ---- FunctionCatalog ----------------------------------------------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** The `bucket` partition function the planner resolves when checking
  * storage-partitioned-join compatibility: bucket id =
  * `pmod(murmur3_hash(keys), n)` — BYTE-IDENTICAL to the layout
  * writer ([[graft.core.TxTable]] `withBucket`: `pmod(hash(cols), n)`,
  * Spark's Murmur3 with seed 42), so evaluated transform values agree
  * with the ids recorded in the manifest. Both join sides load this
  * function from the same catalog; `canonicalName` equality is the
  * planner's compatibility test. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, keys...): pmod(murmur3_hash(keys...), n) — the txtable bucket id"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length >= 2 &&
      inputType.fields.head.dataType == IntegerType,
      s"bucket(n, keys...) needs an int bucket count + key columns, got $inputType")
    new Bound(inputType)
  }

  final class Bound(input: StructType) extends ScalarFunction[java.lang.Integer]
      with Serializable {
    override def inputTypes(): Array[DataType] = input.fields.map(_.dataType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    @transient private lazy val eval = {
      val keys = input.fields.toSeq.zipWithIndex.drop(1).map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true)
      }
      Pmod(new Murmur3Hash(keys), BoundReference(0, IntegerType, nullable = false))
    }
    override def produceResult(row: InternalRow): java.lang.Integer =
      eval.eval(row).asInstanceOf[Int]
  }
}

/** One catalog-resolved txtable snapshot (pinned at load — snapshot
  * isolation per query, the Delta rule). Reads via [[GraftScan]];
  * writes through the V1 fallback seam onto the commit log (append /
  * truncate / filter-overwrite → replaceWhere). */
final class GraftTable(spark: SparkSession, location: String,
    tableName: String, pinned: Option[Long])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations
    with org.apache.spark.sql.graft.V1StreamFallback {

  /** The row-id pair (`SupportsDelta.rowId`): the row's manifest
    * entry path + parquet row index — exactly the deletion-vector
    * key, so native UPDATE/MERGE/DELETE fold matched rows straight
    * into a DV commit. Served by the scan's row-id reader whenever a
    * query (user or rewrite-injected) selects them. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = org.apache.spark.sql.graft.V2Shims.FileMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "manifest entry path of the row's data file"
    },
    new MetadataColumn {
      override def name(): String = org.apache.spark.sql.graft.V2Shims.PosMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String = "parquet row index within the data file"
    })

  /** NATIVE V2 row-level UPDATE / MERGE / non-pushable DELETE — see
    * [[GraftRowLevelOperation]]. Pinned at THIS load's snapshot; the
    * commit refuses any racing writer that changed or added a file. */
  override def newRowLevelOperationBuilder(info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"$tableName: cannot run ${info.command} against a time-traveled snapshot")
    val base = snap
    () => new GraftRowLevelOperation(location, tableName, base, info)
  }

  /** `spark.readStream.table("graft.default.t")`: streaming reads
    * fall back to the V1 txtable source ([[TxTableSourceProvider]])
    * through this descriptor — version-window microbatches, initial
    * snapshot, exactly-once offsets, all through the SAME code path
    * as `readStream.format("txtable")`; re-implementing them as a V2
    * MicroBatchStream would fork semantics. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        tableName.split('.').last, Some("graft")),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new java.net.URI(location)),
        properties = Map("path" -> location)),
      schema = schema(),
      provider = Some("txtable"))
  }

  private val tx = TxTable(spark, location)
  private def snap: Long = pinned.orElse(tx.latestVersion).getOrElse(
    sys.error(s"$location has no committed snapshots"))

  override def name(): String = tableName
  override def version(): String = snap.toString
  override def schema(): StructType =
    try tx.v2ScanInfo(snap).visibleSchema
    catch { case _: IllegalArgumentException => tx.readVersion(snap).schema }

  override def partitioning(): Array[Transform] =
    tx.bucketKeys match {
      case Some(keys) =>
        val n = tx.v2ScanInfo(snap).bucketSpec.map(_._2).getOrElse(0)
        Array(Expressions.bucket(n, keys: _*))
      case None =>
        tx.partitionColumns.map(Expressions.identity).toArray
    }

  override def properties(): java.util.Map[String, String] =
    (tx.properties ++ Map(
      TableCatalog.PROP_LOCATION -> location,
      TableCatalog.PROP_PROVIDER -> "txtable",
      "version" -> snap.toString)).asJava

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      // BATCH_WRITE only (no V1_BATCH_WRITE): every batch write —
      // append, truncate/filter overwrite, dynamic overwrite —
      // executes through the native BatchWrite (executor task
      // writers, one driver commit); declaring V1_BATCH_WRITE would
      // force Spark to demand a V1Write from the builder
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // `MERGE WITH SCHEMA EVOLUTION INTO graft.…`: Spark's
      // ResolveMergeIntoSchemaEvolution widens the table through
      // alterTable(AddColumn) — the same column-mapping metadata
      // commit as ALTER TABLE ADD COLUMN — then re-resolves against
      // the widened snapshot; without this capability the new source
      // columns silently drop out of UPDATE */INSERT * alignment
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** NATIVE V2 row-level DELETE: `DELETE FROM graft.default.t WHERE …`
    * resolves through Spark's own `DeleteFromTable` path (no parser
    * seam involved) and lands here as pushed V1 filters — routed onto
    * the transactional [[TxTable.deleteWhere]], so it gets the same
    * merge-on-read deletion-vector commit (O(matching rows), never
    * O(bytes of touched files)) as the seam's `txtable.`dir`` verb.
    * Conditions Spark cannot push as filters (expressions, subqueries)
    * are rejected by [[canDeleteWhere]] — the seam spelling accepts
    * arbitrary predicates. UPDATE/MERGE stay on the seam: Spark only
    * plans them natively for `SupportsRowLevelOperations` tables
    * (documented trade-off at [[TxSqlParser]]). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty &&
      filters.forall(org.apache.spark.sql.graft.StreamShims.columnOfFilter(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty, s"$tableName: cannot delete from a time-traveled snapshot")
    val cond = filters.toSeq
      .map(f => org.apache.spark.sql.graft.StreamShims.columnOfFilter(f).getOrElse(
        sys.error(s"$tableName: untranslatable delete filter $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    tx.deleteWhere(cond); ()
  }

  /** `TRUNCATE TABLE graft.default.t` — a copy-on-write commit of the
    * empty frame (same layout), NOT a DV over every row. */
  override def truncateTable(): Boolean = {
    require(pinned.isEmpty, s"$tableName: cannot truncate a time-traveled snapshot")
    tx.overwriteSameLayout(tx.read().limit(0)); true
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, tx.v2ScanInfo(snap), tableName)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty, s"$tableName: cannot write to a time-traveled snapshot")
    new GraftWriteBuilder(spark, tx, location, info)
  }
}

private final class GraftWriteBuilder(spark: SparkSession, tx: TxTable,
    location: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  // None = append; Some(Nil) = truncate; Some(fs) = filter overwrite
  private var overwriteFilters: Option[Seq[Filter]] = None
  private var dynamic = false
  override def truncate(): WriteBuilder = { overwriteFilters = Some(Nil); this }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteFilters =
      if (filters.forall(_.isInstanceOf[AlwaysTrue])) Some(Nil)
      else Some(filters.toSeq)
    this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }

  /** Every batch write executes NATIVELY (executor task writers →
    * per-task commit messages → one driver manifest commit,
    * [[GraftNativeWrite]]): append, truncate-overwrite, filtered
    * overwrite (the replaceWhere semantics, predicate planning at
    * driver COMMIT over the task-written immutable files), and
    * dynamic partition overwrite (touched partitions = the partition
    * values the tasks actually wrote). The `V1Write` /
    * `InsertableRelation` fallback is retired — the table no longer
    * declares `V1_BATCH_WRITE`. Catalog tables always carry a
    * snapshot (CREATE TABLE commits the empty v0), so the write
    * context binds to a concrete base version. */
  override def build(): Write = {
    val base = tx.latestVersion.getOrElse(sys.error(
      s"$location has no committed snapshot — CREATE the table first " +
        "(catalog tables commit an empty v0 at creation)"))
    val mode: GraftWriteMode =
      if (dynamic) GraftWriteMode.Dynamic
      else overwriteFilters match {
        case None        => GraftWriteMode.Append
        case Some(Seq()) => GraftWriteMode.ReplaceAll
        case Some(fs)    => GraftWriteMode.ReplaceWhere(fs)
      }
    new GraftNativeWrite(location, tx.deltaWriteContext(base), mode,
      info.schema().fieldNames.toSeq)
  }
}

private final class GraftScanBuilder(spark: SparkSession,
    info: TxTable.V2ScanInfo, tableName: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = info.visibleSchema
  private var pushed: Array[Filter] = Array.empty
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // recorded for zone-map file skipping + parquet row-group
    // pushdown; ALL filters stay residual (Spark re-applies above the
    // scan), so correctness never depends on pushdown coverage
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new GraftScan(spark, info, required, pushed, tableName)
}

/** Manifest-planned V2 scan: file list from the commit log (zero
  * listing), zone-map file skipping from the pushed filters, Spark's
  * own vectorized parquet decode — and, on bucketed layouts, the
  * [[KeyGroupedPartitioning]] report that unlocks shuffle-free
  * storage-partitioned joins. */
private final class GraftScan(spark: SparkSession, info: TxTable.V2ScanInfo,
    required: StructType, pushed: Array[Filter], tableName: String)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics {

  private lazy val kept: Seq[(TxTable.FileEntry, FileStatus)] = {
    val keep = info.keep(pushed.toSeq)
    info.files.filter { case (e, _) => keep(e) }
  }
  private lazy val byBucket: Seq[(Int, Seq[FileStatus])] =
    kept.groupBy { case (e, _) =>
      info.bucketOf(e).getOrElse(sys.error(
        s"$tableName: bucketed snapshot has a file without a bucket id"))
    }.view.mapValues(_.map(_._2)).toSeq

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft $tableName v${info.version} (${kept.size}/${info.files.size} files)"

  // merge-on-read: any kept file with a deletion vector switches the
  // batch onto per-file partitions + the row-index-filtering reader
  private lazy val anyDv: Boolean =
    kept.exists { case (e, _) => info.dvOf(e).isDefined }

  // row-id mode: the scan under a native row-level operation (or any
  // query selecting the metadata columns) — per-file partitions that
  // carry the manifest entry path, readers that serve (file, pos)
  private lazy val rowIdMode: Boolean = required.fieldNames.exists(n =>
    n == org.apache.spark.sql.graft.V2Shims.FileMetaCol ||
      n == org.apache.spark.sql.graft.V2Shims.PosMetaCol)

  override def planInputPartitions(): Array[InputPartition] =
    if (rowIdMode) {
      val pos =
        if (anyDv) info.loadDv() else Map.empty[String, Array[Long]]
      kept.zipWithIndex.map { case ((e, st), i) =>
        org.apache.spark.sql.graft.V2Shims.rowIdPartition(i, st, e.path,
          pos.getOrElse(e.path, Array.empty[Long]))
      }.toArray
    } else if (anyDv) {
      val pos = info.loadDv()
      kept.zipWithIndex.map { case ((e, st), i) =>
        val deleted =
          if (info.dvOf(e).isDefined) pos.getOrElse(e.path, Array.empty[Long])
          else Array.empty[Long]
        org.apache.spark.sql.graft.V2Shims.dvPartition(i, st, deleted,
          info.bucketSpec.flatMap(_ => info.bucketOf(e)))
      }.toArray
    } else info.bucketSpec match {
      case Some(_) =>
        org.apache.spark.sql.graft.V2Shims.bucketPartitions(byBucket)
      case None =>
        org.apache.spark.sql.graft.V2Shims.packedPartitions(spark, kept.map(_._2))
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    // data files carry PHYSICAL column names (the column-mapping
    // boundary): hand the reader physically-named fields in the
    // logical order — InternalRows are positional, so readSchema()
    // stays logical and the rename costs nothing. Identity without a
    // mapping. Filters that fail to rename are dropped from the
    // pushed set only (they are residual upstream — less row-group
    // skipping, never wrong rows).
    val metaNames = Set(org.apache.spark.sql.graft.V2Shims.FileMetaCol,
      org.apache.spark.sql.graft.V2Shims.PosMetaCol)
    val physData = StructType(info.visibleSchema.fields.map(f =>
      f.copy(name = info.physNameOf(f.name))))
    val physRequired = StructType(required.fields.map(f =>
      if (metaNames(f.name)) f
      else f.copy(name = info.physNameOf(f.name))))
    val physPushed = pushed.flatMap(GraftScan.renameFilter(_, info.physNameOf))
    if (rowIdMode)
      org.apache.spark.sql.graft.V2Shims.rowIdParquetReaderFactory(
        spark, physData, physRequired, physPushed)
    else if (anyDv)
      org.apache.spark.sql.graft.V2Shims.dvParquetReaderFactory(
        spark, physData, physRequired, physPushed)
    else
      org.apache.spark.sql.graft.V2Shims.parquetReaderFactory(
        spark, physData, physRequired, physPushed)
  }

  override def outputPartitioning(): Partitioning = info.bucketSpec match {
    // row-id scans plan per-FILE partitions, so the per-bucket key
    // grouping does not hold — report unknown
    case Some((cols, n)) if kept.nonEmpty && !rowIdMode =>
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, cols: _*)), byBucket.size)
    case _ => new UnknownPartitioning(0)
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, kept.map(_._2.getLen).sum))
    override def numRows(): OptionalLong =
      // estimation contract (this is estimateStatistics, nothing
      // downstream treats it as exact): with pushed filters the
      // kept-file counts are the PRE-filter upper bound — report it,
      // because the residual Filter node re-applies the predicate and
      // FilterEstimation shrinks from here via the column stats below;
      // staying silent starved that path of any rowCount at all. DV
      // rows are deleted — they never reach downstream, so subtract.
      if (kept.forall(_._1.rows >= 0))
        OptionalLong.of(kept.map(e => e._1.rows - e._1.dvRows).sum)
      else OptionalLong.empty()

    /** Column stats folded from the kept entries' zone maps — the V2
      * twin of the seam's manifest CatalogColumnStat feed: typed
      * min/max bounds, summed null counts, span-capped uniformity ndv
      * for integral columns (the estimate FilterEstimation needs;
      * floats report min/max only). Bounds stay valid under pushed
      * filters and DVs — both can only narrow the live set. */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val totalRows =
        if (kept.forall(_._1.rows >= 0)) Some(kept.map(_._1.rows).sum)
        else None
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        ColumnStatistics]()
      info.visibleSchema.fields.foreach { f =>
        val phys = info.physNameOf(f.name)
        val integral = f.dataType match {
          case IntegerType | LongType | ShortType | ByteType => true
          case _                                             => false
        }
        val numeric = integral || (f.dataType match {
          case DoubleType | FloatType => true
          case _                      => false
        })
        if (numeric && kept.nonEmpty &&
            kept.forall { case (e, _) =>
              e.min.contains(phys) && e.max.contains(phys) }) {
          try {
            val mins = kept.map(e => BigDecimal(e._1.min(phys)))
            val maxs = kept.map(e => BigDecimal(e._1.max(phys)))
            def typed(b: BigDecimal): Object = f.dataType match {
              case IntegerType => Int.box(b.toIntExact)
              case LongType    => Long.box(b.toLongExact)
              case ShortType   => Short.box(b.toShortExact)
              case ByteType    => Byte.box(b.toByteExact)
              case FloatType   => Float.box(b.toFloat)
              case _           => Double.box(b.toDouble)
            }
            val (mn, mx) = (typed(mins.min), typed(maxs.max))
            val nulls =
              if (kept.forall(_._1.nulls.contains(phys)))
                Some(kept.map(_._1.nulls(phys)).sum)
              else None
            val ndv =
              if (!integral) None
              else {
                val span = (maxs.max - mins.min + 1).toLong
                totalRows.map(r => math.max(1L, math.min(r, span)))
              }
            out.put(Expressions.column(f.name), new ColumnStatistics {
              override def distinctCount(): OptionalLong =
                ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                java.util.Optional.of(mn)
              override def max(): java.util.Optional[Object] =
                java.util.Optional.of(mx)
              override def nullCount(): OptionalLong =
                nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            })
          } catch {
            case _: NumberFormatException | _: ArithmeticException => ()
          }
        }
      }
      out
    }
  }
}

private[graft] object GraftScan {
  import org.apache.spark.sql.sources

  /** Rename every attribute in a pushed filter to its PHYSICAL column
    * name (column-mapping translation for parquet row-group
    * pushdown). None = shape not translated — the caller drops the
    * filter from the PUSHED set only; every filter is residual
    * upstream, so the cost is skipped skipping, never wrong rows. */
  def renameFilter(f: sources.Filter, phys: String => String)
      : Option[sources.Filter] = f match {
    case sources.EqualTo(a, v)            => Some(sources.EqualTo(phys(a), v))
    case sources.EqualNullSafe(a, v)      => Some(sources.EqualNullSafe(phys(a), v))
    case sources.GreaterThan(a, v)        => Some(sources.GreaterThan(phys(a), v))
    case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(phys(a), v))
    case sources.LessThan(a, v)           => Some(sources.LessThan(phys(a), v))
    case sources.LessThanOrEqual(a, v)    => Some(sources.LessThanOrEqual(phys(a), v))
    case sources.In(a, vs)                => Some(sources.In(phys(a), vs))
    case sources.IsNull(a)                => Some(sources.IsNull(phys(a)))
    case sources.IsNotNull(a)             => Some(sources.IsNotNull(phys(a)))
    case sources.StringStartsWith(a, v)   => Some(sources.StringStartsWith(phys(a), v))
    case sources.StringEndsWith(a, v)     => Some(sources.StringEndsWith(phys(a), v))
    case sources.StringContains(a, v)     => Some(sources.StringContains(phys(a), v))
    case sources.And(l, r) =>
      for (lf <- renameFilter(l, phys); rf <- renameFilter(r, phys))
        yield sources.And(lf, rf)
    case sources.Or(l, r) =>
      for (lf <- renameFilter(l, phys); rf <- renameFilter(r, phys))
        yield sources.Or(lf, rf)
    case sources.Not(c) => renameFilter(c, phys).map(sources.Not)
    case _ => None
  }
}

/** Iceberg-style metadata tables over the commit log —
  * `graft.default.t.history` / `.files` / `.partitions` as ordinary
  * SELECT-able relations (loadTable resolves the trailing segment, cf.
  * Iceberg's SparkCatalog metadata-table routing). The row sets are
  * log-derived driver scalars — a few hundred commits / files at most
  * per snapshot on a healthy table — so the scan is a [[LocalScan]]:
  * no job, no partitions, the planner folds it like a local relation.
  * Partition values render as the canonical `k=v/k2=v2` path string
  * (sorted by key) so the relation stays flat and join-friendly. */
private final class GraftMetadataTable(spark: SparkSession, location: String,
    tableName: String, kind: String, pinned: Option[Long])
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.LocalScan
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val tx = TxTable(spark, location)
  private def snap: Long = pinned.orElse(tx.latestVersion).getOrElse(
    sys.error(s"$location has no committed snapshots"))

  override def name(): String = tableName
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def schema(): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_added_files", IntegerType, nullable = false),
      StructField("added_bytes", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("bucket", IntegerType, nullable = true),
      StructField("bytes", LongType, nullable = true),
      StructField("rows", LongType, nullable = true),
      StructField("dv_rows", LongType, nullable = false),
      StructField("dv_path", StringType, nullable = true)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = false)))
    case other => sys.error(s"unknown metadata table kind $other")
  }

  private def partString(p: Map[String, String]): String =
    p.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")

  private def rowsOf(): Seq[InternalRow] = kind match {
    case "history" =>
      tx.history().map { case (v, op, nFiles, nAdd, bAdd) =>
        InternalRow(v, UTF8String.fromString(op), nFiles, nAdd, bAdd)
      }
    case "files" =>
      val info = tx.v2ScanInfo(snap)
      info.files.map { case (e, st) =>
        InternalRow(
          UTF8String.fromString(e.path),
          UTF8String.fromString(partString(e.partition)),
          info.bucketOf(e).map(Int.box).orNull,
          if (e.bytes >= 0) Long.box(e.bytes)
          else Long.box(st.getLen),
          if (e.rows >= 0) Long.box(e.rows) else null,
          e.dvRows,
          info.dvOf(e).map(UTF8String.fromString).orNull)
      }
    case "partitions" =>
      val info = tx.v2ScanInfo(snap)
      info.files.groupBy { case (e, _) => partString(e.partition) }
        .toSeq.sortBy(_._1)
        .map { case (p, fs) =>
          val anyUnknown = fs.exists(_._1.rows < 0)
          val liveRows = fs.map { case (e, _) => e.rows - e.dvRows }.sum
          InternalRow(
            UTF8String.fromString(p),
            fs.size.toLong,
            if (anyUnknown) null else Long.box(liveRows),
            fs.map { case (e, st) =>
              if (e.bytes >= 0) e.bytes else st.getLen }.sum)
        }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = GraftMetadataTable.this.schema()
        override def rows(): Array[InternalRow] = rowsOf().toArray
        override def description(): String = s"GraftMetadata($tableName)"
      }
    }
}

private object GraftMetadataTable {
  val kinds: Set[String] = Set("history", "files", "partitions")
}
