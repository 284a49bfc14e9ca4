package graft.core

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Read-only parser for the OPEN Delta Lake transaction-log protocol
  * (the published `_delta_log` format: JSON commits + parquet
  * checkpoints) — the reference's actual storage substrate is Delta on
  * S3A (reference resources/spark.py:65-67, resources/emr.py:73-78,
  * pipes/utils.py:85-89), so a migrating user's first table is a
  * `_delta_log` directory. This module reconstructs the ACTIVE
  * snapshot (schema, partition columns, live data files with their
  * per-file stats) from the log alone, with zero dependency on
  * delta-spark jars:
  *
  *   - `_last_checkpoint` names the newest checkpoint; its parquet
  *     part(s) carry the compacted action state (add/remove/metaData/
  *     protocol rows);
  *   - JSON commits AFTER the checkpoint replay on top, one action
  *     per line (`add` / `remove` / `metaData` / `protocol` /
  *     `commitInfo`), last-writer-wins per file path;
  *   - `remove` actions are tombstones for vacuum — a removed path
  *     simply leaves the live set.
  *
  * READER V2/V3 support (the 2024+ Databricks default write path —
  * without it a migrating user's first modern table refuses on day
  * one):
  *
  *   - **Deletion vectors**: an `add` may carry a `deletionVector`
  *     descriptor; the marked row indexes (decoded by
  *     [[DeltaDv]] from the published roaring-bitmap sidecar format)
  *     are EXCLUDED from every read — merge-on-read, same shape as
  *     this engine's own native DV path (`_metadata.row_index`
  *     anti-join; TxTable x12/x15).
  *   - **Column mapping, `name` mode** (what `ALTER TABLE RENAME
  *     COLUMN` turns on): parquet files carry frozen PHYSICAL names
  *     (`delta.columnMapping.physicalName` in the schema's field
  *     metadata); scans read physical and surface logical, and the
  *     log's physically-keyed partition values / stats are translated
  *     at parse time. `id` mode (resolution by parquet field id)
  *     still refuses loudly — a narrowed, named refusal.
  *   - **V2 checkpoints** (the newer DBR default): a UUID-named
  *     manifest `NNN.checkpoint.<uuid>.{parquet|json}` carrying
  *     `checkpointMetadata` + protocol/metaData, with the file
  *     actions inline or in `sidecar`-referenced parquet files under
  *     `_delta_log/_sidecars/`. Both manifest formats parse; absolute
  *     /external sidecar paths refuse by name.
  *   - Reader version 3 tables are accepted iff every `readerFeatures`
  *     entry is implemented here (`deletionVectors`, `columnMapping`,
  *     `timestampNtz`, `v2Checkpoint`); anything else — future
  *     features — refuses with the feature named, never a wrong read.
  *
  * Scale note: snapshot state is driver-materialized, O(live files) —
  * the same cost class as this engine's own manifest (and as Delta's
  * own driver-side state reconstruction). Checkpoint parquet is read
  * through Spark, so million-file checkpoints parse distributed and
  * only the collected add-list lands on the driver. DV bitmaps are
  * decoded lazily at READ time (not snapshot time) and are
  * deleted-row-sized. */
object DeltaLog {

  /** One live data file: root-relative DECODED path, partition values
    * keyed by LOGICAL column name (None = null partition value),
    * size/mtime from the add action, stats translated to the
    * manifest's string encoding and LOGICAL keys (only where sound —
    * see [[statsOf]]), and the optional deletion-vector descriptor.
    * `rows = -1` when the add carried no stats. `rawPath` is the
    * log's own (possibly URL-encoded) spelling — the remove/re-add
    * identity key. */
  final case class DeltaAdd(path: String, partition: Map[String, Option[String]],
      bytes: Long, mtimeMs: Long, rows: Long,
      min: Map[String, String], max: Map[String, String],
      nulls: Map[String, Long], dv: Option[DeltaDv.Descriptor] = None)

  /** The reconstructed active state of a Delta table. `schema` and
    * `partitionCols` are LOGICAL; `colMap` (logical → physical, empty
    * without column mapping) names the parquet-file columns. */
  final case class DeltaSnapshot(root: String, version: Long,
      schema: StructType, partitionCols: Seq[String],
      configuration: Map[String, String], adds: Seq[DeltaAdd],
      colMap: Map[String, String] = Map.empty,
      cmMode: String = "none") {
    def physName(c: String): String = colMap.getOrElse(c, c)
    /** Scan schema: the NON-partition fields under their PHYSICAL
      * names (what the data files actually store). Under `id`-mode
      * column mapping each field additionally carries the
      * `parquet.field.id` Spark metadata key (from
      * `delta.columnMapping.id`), so a field-id-enabled parquet scan
      * resolves by ID — file column NAMES are not trustworthy in id
      * mode (an Iceberg-converted table's files keep their original
      * names across renames). */
    def dataSchema: StructType = {
      val p = partitionCols.toSet
      StructType(schema.fields.filterNot(f => p.contains(f.name)).map { f =>
        val renamed = f.copy(name = physName(f.name))
        if (cmMode != "id") renamed
        else renamed.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("parquet.field.id",
              f.metadata.getLong("delta.columnMapping.id"))
            .build())
      })
    }
  }

  private val LogDir = "_delta_log"
  private val PhysNameKey = "delta.columnMapping.physicalName"

  /** Reader features this module implements; any OTHER feature on a
    * reader-v3 table refuses with its name. `timestampNtz` is pure
    * schema surface (Spark's TimestampNTZType round-trips through
    * `DataType.fromJson`). */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint")

  private val Json = new ObjectMapper()
  private val CommitName = """(\d{20})\.json""".r
  private val ClassicCheckpointName =
    """(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet""".r
  /** V2 checkpoint manifests: `NNN.checkpoint.<uuid>.{parquet|json}`. */
  private[core] val V2CheckpointName =
    """(\d{20})\.checkpoint\.[A-Za-z0-9_-]+\.(?:parquet|json)""".r

  /** True iff `path` carries a Delta transaction log. */
  def isDeltaTable(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, LogDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The version of a `_delta_log` commit or checkpoint file (classic,
    * multi-part or v2 manifest), from its name alone. */
  private[core] def logFileVersion(name: String): Option[Long] = name match {
    case CommitName(v)            => Some(v.toLong)
    case ClassicCheckpointName(v) => Some(v.toLong)
    case V2CheckpointName(v)      => Some(v.toLong)
    case _                        => None
  }

  /** The JSON commit versions present in `logDir`, ascending. */
  private[core] def commitVersions(fs: FileSystem, logDir: Path): Seq[Long] =
    fs.listStatus(logDir).iterator.map(_.getPath.getName)
      .collect { case CommitName(v) => v.toLong }.toSeq.sorted

  /** One JSON commit's action nodes, in file order. */
  private[core] def commitActions(fs: FileSystem, logDir: Path,
      v: Long): Seq[JsonNode] =
    jsonLines(fs, new Path(logDir, f"$v%020d.json"))

  /** The `kind` action bodies among `actions`, in order. */
  private def bodies(actions: Seq[JsonNode], kind: String): Seq[JsonNode] =
    actions.flatMap(n => Option(n.get(kind)).filterNot(_.isNull))

  private def jsonLines(fs: FileSystem, p: Path): Seq[JsonNode] =
    new String(readBytes(fs, p), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map(Json.readTree).toSeq

  /** `_last_checkpoint`'s (version, parts), if the pointer exists. */
  private[core] def checkpointPointer(fs: FileSystem,
      logDir: Path): Option[(Long, Int)] = {
    val p = new Path(logDir, "_last_checkpoint")
    if (!fs.exists(p)) None
    else {
      val n = Json.readTree(readBytes(fs, p))
      Some((n.get("version").asLong(),
        Option(n.get("parts")).map(_.asInt()).getOrElse(1)))
    }
  }

  /** Raw replayed log state: the latest `protocol` and `metaData`
    * action nodes, every live `add` node keyed by its RAW (log-spelled)
    * path — the remove/re-add identity key — and the `remove`
    * tombstones (raw path → deletionTimestamp, dataChange) that no
    * later add has cleared. */
  private[core] final case class LogState(version: Long,
      protocol: Option[JsonNode], metaData: Option[JsonNode],
      adds: scala.collection.Map[String, JsonNode],
      tombstones: scala.collection.Map[String, (Long, Boolean)])

  /** THE `_delta_log` replay behind [[snapshot]] and the mirror's
    * checkpoint writer ([[TxTable.mirrorToDelta]]): checkpoint base
    * state (`_last_checkpoint` → classic single- or multi-part parquet,
    * or a v2 parquet/JSON manifest plus its `_sidecars`), then the JSON
    * commits after it, checked contiguous. `atVersion` pins the state
    * (a checkpoint NEWER than the pin is ignored and the JSON commits
    * must then cover 0..atVersion). `files = false` skips every file
    * action — checkpoint add/remove rows are never collected — for a
    * caller that needs only the protocol and metaData. */
  private[core] def replay(spark: SparkSession, rootStr: String,
      atVersion: Option[Long] = None, files: Boolean = true): LogState = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val root = new Path(rootStr)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, LogDir)
    require(fs.exists(logDir), s"$rootStr is not a Delta table (no $LogDir)")
    val (cpVersion, cpParts) = checkpointPointer(fs, logDir)
      .filterNot(p => atVersion.exists(_ < p._1)) // pinned BEFORE it
      .getOrElse((-1L, 0))

    var meta: Option[JsonNode] = None
    var protocol: Option[JsonNode] = None
    val live = scala.collection.mutable.LinkedHashMap[String, JsonNode]()
    val tombs = scala.collection.mutable.LinkedHashMap[String, (Long, Boolean)]()
    // one batch of actions — a commit, or checkpoint rows. Removes
    // apply before adds: reconciliation is order-independent WITHIN a
    // version (the DV re-add shape — remove and re-add one path —
    // resolves to the add whatever order the writer serialized them
    // in). Checkpoint removes are vacuum tombstones, never state.
    def absorb(actions: Seq[JsonNode], checkpoint: Boolean): Unit = {
      bodies(actions, "metaData").foreach(n => meta = Some(n))
      bodies(actions, "protocol").foreach(n => protocol = Some(n))
      if (files) {
        bodies(actions, "remove").foreach { r =>
          val p = r.get("path").asText()
          if (!checkpoint) { live.remove(p); () }
          tombs(p) =
            (Option(r.get("deletionTimestamp")).map(_.asLong).getOrElse(0L),
              Option(r.get("dataChange")).exists(_.asBoolean))
        }
        bodies(actions, "add").foreach { a =>
          val p = a.get("path").asText()
          live(p) = a
          tombs.remove(p); ()
        }
      }
    }
    // checkpoint-shaped parquet (classic parts, a v2 manifest, v2
    // sidecars) as action nodes of the JSON-commit line shape:
    // distributed parse, only the requested action kinds collected
    def parquetActions(paths: Seq[Path]): Seq[JsonNode] = {
      val cp = spark.read.parquet(paths.map(_.toString): _*)
      val kinds = (Seq("protocol", "metaData", "checkpointMetadata", "sidecar") ++
        (if (files) Seq("remove", "add") else Nil)).filter(cp.columns.contains)
      if (kinds.isEmpty) Nil
      else cp.where(kinds.map(col(_).isNotNull).reduce(_ || _))
        .select(to_json(struct(kinds.map(col): _*),
          Map("ignoreNullFields" -> "true")))
        .collect().toSeq.map(r => Json.readTree(r.getString(0)))
    }

    if (cpVersion >= 0) {
      val classicFiles =
        if (cpParts <= 1)
          Seq(new Path(logDir, f"$cpVersion%020d.checkpoint.parquet"))
        else (1 to cpParts).map(i => new Path(logDir,
          f"$cpVersion%020d.checkpoint.$i%010d.$cpParts%010d.parquet"))
      if (classicFiles.forall(fs.exists))
        absorb(parquetActions(classicFiles), checkpoint = true)
      else {
        // ---- V2 checkpoint (the 2024+ DBR default write path): a
        // UUID-named manifest carrying checkpointMetadata/protocol/
        // metaData + either the file actions inline or `sidecar`
        // references to parquet files under `_delta_log/_sidecars/` ----
        val manifests = fs.listStatus(logDir).map(_.getPath).filter(p =>
          p.getName match {
            case V2CheckpointName(v) => v.toLong == cpVersion
            case _                   => false
          }).sortBy(_.getName)
        require(manifests.nonEmpty,
          s"$rootStr: _last_checkpoint names version $cpVersion but no " +
            "classic or v2 checkpoint file exists — corrupt log")
        // multiple UUID manifests of one version are each complete —
        // any one serves; pick deterministically
        val mf = manifests.head
        val actions =
          if (mf.getName.endsWith(".json")) jsonLines(fs, mf)
          else parquetActions(Seq(mf))
        bodies(actions, "checkpointMetadata").foreach { cm =>
          require(cm.get("version").asLong() == cpVersion,
            s"$rootStr: v2 checkpoint manifest $mf declares version " +
              s"${cm.get("version").asLong()} ≠ $cpVersion — corrupt log")
        }
        absorb(actions, checkpoint = true)
        // sidecars hold only file actions
        val sidecars = bodies(actions, "sidecar").map { sc =>
          val p = sc.get("path").asText()
          // the spec's layout; absolute/external sidecars refuse
          // rather than misread
          require(!p.startsWith("/") && !p.contains("://"),
            s"$rootStr: v2 checkpoint sidecar references EXTERNAL file $p — " +
              "refusing rather than misread")
          new Path(new Path(logDir, "_sidecars"), p)
        }
        sidecars.foreach(p => require(fs.exists(p),
          s"$rootStr: v2 checkpoint names missing sidecar $p — corrupt log"))
        if (files && sidecars.nonEmpty)
          absorb(parquetActions(sidecars), checkpoint = true)
      }
    }

    // ---- JSON commits after the checkpoint ---------------------------
    val commits = commitVersions(fs, logDir)
      .filter(v => v > cpVersion && atVersion.forall(v <= _))
    atVersion.foreach(v => require(
      commits.lastOption.contains(v) || cpVersion == v,
      s"$rootStr: pinned version $v is not present in the log " +
        s"(have ${commits.lastOption.orNull}) — cleaned or never committed"))
    require(cpVersion >= 0 || commits.headOption.contains(0L),
      s"$rootStr: Delta log starts at version ${commits.headOption.getOrElse(-1L)} " +
        "with no checkpoint — truncated log")
    // a checkpointed log must continue CONTIGUOUSLY from the
    // checkpoint: a stale _last_checkpoint over partially-cleaned
    // commits (cp+1..k gone, later ones present) would otherwise
    // replay later actions on a stale base — a silently wrong file set
    require(cpVersion < 0 || commits.isEmpty || commits.head == cpVersion + 1,
      s"$rootStr: first post-checkpoint commit ${commits.headOption.orNull} " +
        s"is not checkpoint version $cpVersion + 1 — stale checkpoint over " +
        "a cleaned log; refusing rather than replay on a stale base")
    commits.zip(commits.drop(1)).foreach { case (a, b) =>
      require(b == a + 1, s"$rootStr: Delta log gap between versions $a and $b")
    }
    require(cpVersion >= 0 || commits.nonEmpty,
      s"$rootStr: Delta log holds no commits")
    commits.foreach(v => absorb(commitActions(fs, logDir, v), checkpoint = false))
    LogState(commits.lastOption.getOrElse(cpVersion), protocol, meta,
      live, tombs)
  }

  /** Reconstruct the latest snapshot — or, with `atVersion`, the
    * PINNED snapshot as of that version (the streaming batch-0
    * contract: crash-replay of the initial batch must see the same
    * rows). [[replay]] plus validation: throws with a NAMED reason on
    * any unsupported protocol feature (never a wrong read). */
  def snapshot(spark: SparkSession, rootStr: String,
      atVersion: Option[Long] = None): DeltaSnapshot = {
    val st = replay(spark, rootStr, atVersion)
    val md = st.metaData.getOrElse(sys.error(
      s"$rootStr: Delta log carries no metaData action — corrupt log"))
    st.protocol.flatMap(beyondReader).foreach(what => throw
      new IllegalArgumentException(s"$rootStr: Delta protocol needs $what — " +
        "not implemented; refusing rather than misread"))
    val pm = parseMetaData(md, rootStr)
    st.adds.keys.foreach { p =>
      require(!p.startsWith("/") && !p.contains("://"),
        s"$rootStr: Delta add references EXTERNAL file $p (shallow clone?) " +
          "— zero-copy convert requires table-rooted files")
    }
    // with column mapping, the log keys partition values and stats by
    // PHYSICAL name (per the protocol) — surface LOGICAL keys
    val physToLogical = pm.colMap.map(_.swap)
    def logical[V](m: Map[String, V]): Map[String, V] =
      m.flatMap { case (k, v) => physToLogical.get(k).map(_ -> v) }
    val adds = st.adds.values.map { n =>
      val a = parseAdd(n, rootStr)
      if (pm.colMap.isEmpty) a
      else a.copy(partition = logical(a.partition), min = logical(a.min),
        max = logical(a.max), nulls = logical(a.nulls))
    }.toSeq.sortBy(_.path)
    DeltaSnapshot(rootStr, st.version, pm.schema, pm.partitionCols,
      pm.configuration, adds, pm.colMap, pm.cmMode)
  }

  /** What a `protocol` action demands beyond this reader (a future
    * minReaderVersion, or unimplemented reader features), or None when
    * every table it governs reads correctly here. */
  private def beyondReader(p: JsonNode): Option[String] = {
    val r = Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
    val unsupported =
      if (r != 3) Nil
      else Option(p.get("readerFeatures")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        .filterNot(SupportedReaderFeatures).sorted
    if (r > 3) Some(s"minReaderVersion $r")
    else if (unsupported.nonEmpty)
      Some(s"readerFeatures ${unsupported.mkString(", ")}")
    else None
  }

  /** One parsed Delta `metaData` action — schema, mapping, layout,
    * configuration, with every protocol/consistency refusal the
    * snapshot path enforces (shared by [[snapshot]] and the window
    * parser so a tail-consumed metaData change cannot be validated
    * more weakly than a snapshot-read one). */
  final case class ParsedMeta(schema: StructType,
      colMap: Map[String, String], cmMode: String,
      partitionCols: Seq[String], configuration: Map[String, String])

  private[core] def parseMetaData(md: JsonNode, rootStr: String): ParsedMeta = {
    val conf = Option(md.get("configuration")).map { c =>
      c.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val cmMode = conf.getOrElse("delta.columnMapping.mode", "none")
    require(cmMode == "none" || cmMode == "name" || cmMode == "id",
      s"$rootStr: Delta column mapping mode '$cmMode' unsupported — " +
        "implemented modes are none | name (physical-name resolution) | " +
        "id (parquet field-id resolution); refusing rather than misread")
    Option(md.get("format")).flatMap(f => Option(f.get("provider")))
      .map(_.asText()).foreach(p => require(p == "parquet",
        s"$rootStr: Delta format provider '$p' — only parquet is supported"))
    val schema = DataType.fromJson(md.get("schemaString").asText())
      .asInstanceOf[StructType]
    val colMap: Map[String, String] =
      if (cmMode == "none") Map.empty
      else schema.fields.map { f =>
        require(f.metadata.contains(PhysNameKey),
          s"$rootStr: column mapping enabled but field '${f.name}' has no " +
            s"$PhysNameKey — corrupt metadata")
        // id mode scans resolve by field id — every field must carry
        // one (physicalName still keys the log's partitionValues/stats)
        if (cmMode == "id") require(
          f.metadata.contains("delta.columnMapping.id"),
          s"$rootStr: id-mode column mapping but field '${f.name}' has " +
            "no delta.columnMapping.id — corrupt metadata")
        f.name -> f.metadata.getString(PhysNameKey)
      }.toMap
    require(colMap.values.toSet.size == colMap.size,
      s"$rootStr: duplicate physical column names in the mapping")
    // nested structs under column mapping would need per-level
    // physical names — refuse rather than read the top level only
    if (colMap.nonEmpty) schema.fields.foreach { f =>
      require(!f.dataType.isInstanceOf[StructType],
        s"$rootStr: column mapping over nested struct '${f.name}' not " +
          "implemented — refusing rather than misread nested fields")
    }
    val partCols = Option(md.get("partitionColumns"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    ParsedMeta(schema, colMap, cmMode, partCols, conf)
  }

  private def parseDv(n: JsonNode, rootStr: String): DeltaDv.Descriptor = {
    def str(k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asText())
      .getOrElse(sys.error(s"$rootStr: deletionVector missing $k"))
    DeltaDv.Descriptor(
      storageType = str("storageType"),
      pathOrInlineDv = str("pathOrInlineDv"),
      offset = Option(n.get("offset")).filterNot(_.isNull).map(_.asInt()),
      sizeInBytes = Option(n.get("sizeInBytes")).filterNot(_.isNull)
        .map(_.asInt()).getOrElse(sys.error(
          s"$rootStr: deletionVector missing sizeInBytes")),
      cardinality = Option(n.get("cardinality")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(sys.error(
          s"$rootStr: deletionVector missing cardinality")))
  }

  private def decodePath(rawPath: String): String =
    try new java.net.URI(rawPath).getPath
    catch { case _: java.net.URISyntaxException => rawPath }

  /** THE `add` action parser — JSON commits, v2 JSON manifests and
    * checkpoint rows alike: percent-decoded path, partition values
    * (None = null), size/mtime, stats translated into the manifest's
    * string encoding (physical keys as logged; unparseable stats read
    * as absent, `rows = -1`), and the deletion-vector descriptor. */
  private def parseAdd(a: JsonNode, rootStr: String): DeltaAdd = {
    def fields(n: JsonNode) =
      Option(n).filterNot(_.isNull).toSeq.flatMap(_.fields().asScala)
    val pv = fields(a.get("partitionValues")).map { e =>
      e.getKey -> Option(e.getValue).filterNot(_.isNull).map(_.asText())
    }.toMap
    val stats = Option(a.get("stats")).filterNot(_.isNull).flatMap { s =>
      try Some(Json.readTree(s.asText()))
      catch { case _: Exception => None }
    }
    // only primitive stats translate (struct columns nest)
    def strMap(key: String): Map[String, String] =
      fields(stats.map(_.get(key)).orNull).collect {
        case e if e.getValue.isValueNode && !e.getValue.isNull =>
          e.getKey -> e.getValue.asText()
      }.toMap
    DeltaAdd(decodePath(a.get("path").asText()), pv, a.get("size").asLong(),
      Option(a.get("modificationTime")).map(_.asLong()).getOrElse(0L),
      rows = stats.flatMap(s => Option(s.get("numRecords")))
        .map(_.asLong()).getOrElse(-1L),
      min = strMap("minValues"), max = strMap("maxValues"),
      nulls = fields(stats.map(_.get("nullCount")).orNull).collect {
        case e if e.getValue.isNumber => e.getKey -> e.getValue.asLong()
      }.toMap,
      dv = Option(a.get("deletionVector")).filterNot(_.isNull)
        .map(parseDv(_, rootStr)))
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** Batch read of the ACTIVE snapshot — the engine's
    * `spark.read.format("delta-log").load(dir)` substance. Partition
    * columns are NOT stored in Delta data files; they re-enter the
    * frame through ONE broadcast join of (file path → partition
    * values) against `_metadata.file_path` — a single scan whatever
    * the partition count, no per-partition unions (the shape that
    * survives 10⁴ partitions). Deletion-vector'd files additionally
    * anti-join a broadcast (file, row_index) set — merge-on-read,
    * deleted-row-sized. Column-mapped tables scan under PHYSICAL
    * names and surface logical ones. `filters` prunes the add list
    * BEFORE planning where a partition-column filter allows (EqualTo /
    * In / IsNull on canonically-serialized types), the Delta
    * partition-pruning behavior.
    *
    * Join-key encoding: `_metadata.file_path` is the file's
    * URL-ENCODED URI (Spark's SparkPath), so the build side keys by
    * `Path.toUri.toString` — the same encoding — never the decoded
    * `Path.toString` (a space/%/# in a real path would silently drop
    * the whole file from an inner join keyed on mixed encodings).
    * And because a silently-dropped file is the worst failure mode a
    * reader can have, the join is LEFT with a per-row guard: a scan
    * row whose file matches no build-side entry RAISES (encoding
    * drift named in the error) instead of disappearing. */
  private[graft] def buildDf(spark0: SparkSession, snap: DeltaSnapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    // id-mode column mapping resolves scan columns by parquet FIELD
    // ID — a session conf, not a per-scan option — so the whole frame
    // is built on a PRIVATE conf-pinned session (the loopSession
    // discipline: nothing leaks into concurrently-planned queries,
    // and executing the returned frame, whose plans capture this
    // session, keeps the conf). `ignoreMissingParquetFieldId` stays
    // at its strict default: a data file WITHOUT ids fails loudly
    // instead of silently returning nulls.
    val spark =
      if (snap.cmMode != "id") spark0
      else {
        val s2 = spark0.newSession()
        s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        s2
      }
    val root = new Path(snap.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pSet = snap.partitionCols.toSet
    // canonical string serialization matches Delta's partitionValues
    // exactly for these types, so string equality is sound pruning
    val prunable = snap.schema.fields.filter(f => pSet.contains(f.name) &&
      (f.dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType => true
        case _ => false
      })).map(_.name).toSet
    def keep(a: DeltaAdd): Boolean = filters.forall {
      case org.apache.spark.sql.sources.EqualTo(c, v) if prunable(c) =>
        a.partition.get(c).forall(_.contains(String.valueOf(v)))
      case org.apache.spark.sql.sources.In(c, vs) if prunable(c) =>
        a.partition.get(c).forall(pv =>
          pv.exists(s => vs.exists(v => String.valueOf(v) == s)))
      case org.apache.spark.sql.sources.IsNull(c) if prunable(c) =>
        a.partition.get(c).forall(_.isEmpty)
      case org.apache.spark.sql.sources.IsNotNull(c) if prunable(c) =>
        a.partition.get(c).forall(_.nonEmpty)
      case _ => true // residual filters re-apply above the scan
    }
    val adds = snap.adds.filter(keep)
    if (adds.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snap.schema.fields.map(_.copy(nullable = true)).toSeq))
    val qualified = adds.map(a => fs.makeQualified(new Path(root, a.path)))
    // scan input: decoded Path strings (the form the reader lists);
    // join keys: Spark's own `_metadata.file_path` spelling
    val scanPaths = qualified.map(_.toString)
    val uriKeys = adds.zip(qualified.map(UriKeys.sparkPathKey))
    val scan0 = spark.read.schema(snap.dataSchema)
      .parquet(scanPaths: _*)
    // final projection: physical → logical names
    def logicalCols = snap.schema.fieldNames.map(n =>
      if (pSet.contains(n)) col(n) else col(snap.physName(n)).as(n))
    val anyDv = adds.exists(_.dv.isDefined)
    if (snap.partitionCols.isEmpty && !anyDv)
      return scan0.select(logicalCols: _*) // plain table: no joins at all
    // ---- ONE broadcast per-file dim: join-verified marker +
    //      partition values --------------------------------------------
    val fileCol = "__delta_file"
    val okCol = "__delta_ok"
    val pvSchema = StructType(
      Seq(org.apache.spark.sql.types.StructField(fileCol,
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField(okCol,
          org.apache.spark.sql.types.BooleanType, nullable = false)) ++
      snap.partitionCols.map(c => org.apache.spark.sql.types.StructField(
        s"__pv_$c", org.apache.spark.sql.types.StringType)))
    val pvRows = uriKeys.map { case (a, key) =>
      org.apache.spark.sql.Row.fromSeq(
        key +: true +: snap.partitionCols.map(c =>
          a.partition.get(c).flatten.orNull))
    }
    val pvDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pvRows, 1), pvSchema)
    // metadata columns resolve only directly above the scan — capture
    // BOTH (file for the dim join, row position for the DV anti-join)
    // before any join hides them
    val tagged =
      if (anyDv)
        scan0.withColumn(fileCol, col("_metadata.file_path"))
          .withColumn("__delta_pos", col("_metadata.row_index"))
      else scan0.withColumn(fileCol, col("_metadata.file_path"))
    val joined = tagged
      .join(broadcast(pvDf), Seq(fileCol), "left")
      // the loud guard: a scan row whose file matched no log entry
      // means the two path encodings drifted — raise, never drop
      .filter(org.apache.spark.sql.functions.when(col(okCol).isNull,
          org.apache.spark.sql.functions.raise_error(
            org.apache.spark.sql.functions.concat(
              lit(s"delta-log ${snap.root}: scan row from file "),
              col(fileCol),
              lit(" matched no log entry — path-encoding drift; refusing" +
                " rather than drop rows"))))
        .otherwise(lit(true)))
      .drop(okCol)
    // ---- merge-on-read: deletion-vector'd rows leave here -----------
    val dved = uriKeys.filter(_._1.dv.isDefined)
    val undeleted =
      if (dved.isEmpty) joined
      else {
        val deleted: Seq[(String, Long)] = dved.flatMap { case (a, key) =>
          DeltaDv.readPositions(fs, root, a.dv.get).map(key -> _)
        }
        val dvDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            deleted.map(t => org.apache.spark.sql.Row(t._1, t._2)), 1),
          StructType(Seq(
            org.apache.spark.sql.types.StructField(fileCol,
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("__delta_pos",
              org.apache.spark.sql.types.LongType, nullable = false))))
        joined
          .join(broadcast(dvDf), Seq(fileCol, "__delta_pos"), "left_anti")
      }
    val typed = snap.partitionCols.foldLeft(undeleted) { (df, c) =>
      val dt = snap.schema(c).dataType
      df.withColumn(c, col(s"__pv_$c").cast(dt)).drop(s"__pv_$c")
    }.drop(fileCol, "__delta_pos")
    typed.select(logicalCols: _*)
  }

  /** Plain read of the active snapshot (no pushed filters). */
  def read(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    buildDf(spark, snapshot(spark, path), Nil)

  /** Newest committed version visible in the log (JSON commits ∪ the
    * `_last_checkpoint` pointer) — the streaming source's offset
    * probe: one directory listing, no state reconstruction. */
  def latestVersion(spark: SparkSession, rootStr: String): Option[Long] = {
    val logDir = new Path(new Path(rootStr), LogDir)
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return None
    (commitVersions(fs, logDir).lastOption.toSeq ++
      checkpointPointer(fs, logDir).map(_._1)).maxOption
  }

  /** Net effect of the commits (from, to] on the file set: the final
    * `add` per path (a re-add supersedes earlier actions on that
    * path), the paths whose FINAL action is `remove`, and every path
    * that appeared as an add anywhere in the window (so a consumer
    * can tell a drop of a pre-window file from an add-then-remove
    * that nets to nothing). `metaIdxByPath` records, per surviving
    * add, how many of `metas` had been seen by its commit (same-commit
    * metaData counts — Delta's ADD COLUMN ships the widened metaData
    * and the first widened file together): the consumer can verify
    * each add against the schema that actually GOVERNED it instead of
    * the anchor's. */
  final case class WindowDelta(adds: Seq[DeltaAdd], removedPaths: Seq[String],
      addedAnywhere: Set[String], metas: Seq[ParsedMeta] = Nil,
      metaIdxByPath: Map[String, Int] = Map.empty)

  /** The `add` actions of commits (from, to] — the streaming TAIL
    * parser, sound ONLY for append-shaped commits: a `remove` action
    * (rewrite/delete/compaction), a `metaData` or `protocol` change,
    * or a deletion-vector'd add inside the window REFUSES with the
    * standard change-feed reset signal (the consumer restarts from a
    * snapshot — exactly [[TxTable.changesSince]]'s contract). A
    * consumer that CAN represent file drops (a table follower, not a
    * row stream) uses [[actionsInWindow]] instead.
    * Partition/stat keys are translated to LOGICAL names per the
    * given snapshot's mapping. */
  def addsInWindow(spark: SparkSession, snap: DeltaSnapshot,
      from: Long, to: Long): Seq[DeltaAdd] =
    parseWindow(spark, snap, from, to, allowRemoves = false).adds

  /** The net file-set delta of commits (from, to] — [[addsInWindow]]
    * with `remove` actions TRANSLATED instead of refused (a follower
    * applies them as metadata-only manifest drops) and
    * deletion-vector'd adds PARSED instead of refused (a follower
    * translates the DV to its native sidecar — the upstream
    * merge-on-read DELETE/UPDATE shape) and `metaData` actions PARSED
    * into the result (the consumer decides whether the change is an
    * adoptable widening — [[TxTable.followDelta]]'s additive-evolution
    * rule — or a reset). Protocol changes within this reader's
    * capabilities pass as pure metadata (the upstream's first DV
    * commit upgrades to table features — a follower must survive
    * that); unsupported features still refuse. */
  def actionsInWindow(spark: SparkSession, snap: DeltaSnapshot,
      from: Long, to: Long): WindowDelta =
    parseWindow(spark, snap, from, to, allowRemoves = true,
      allowDvAdds = true, allowMetaData = true)

  private def parseWindow(spark: SparkSession, snap: DeltaSnapshot,
      from: Long, to: Long, allowRemoves: Boolean,
      allowDvAdds: Boolean = false,
      allowMetaData: Boolean = false): WindowDelta = {
    require(to > from, s"${snap.root}: empty window ($from, $to]")
    val root = new Path(snap.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new Path(root, LogDir)
    val physToLogical = snap.colMap.map(_.swap)
    // final action per path, in first-appearance order (deterministic
    // output layout); None = removed
    val state = scala.collection.mutable.LinkedHashMap[String, Option[DeltaAdd]]()
    val addedAnywhere = Set.newBuilder[String]
    val metas = scala.collection.mutable.ArrayBuffer[ParsedMeta]()
    val metaIdx = scala.collection.mutable.HashMap[String, Int]()
    ((from + 1) to to).foreach { v =>
      require(fs.exists(new Path(logDir, f"$v%020d.json")),
        s"${snap.root}: commit $v aged out of the log — the incremental " +
          "window is gone; restart the stream from a fresh snapshot")
      val actions = commitActions(fs, logDir, v)
      bodies(actions, "metaData").foreach { md =>
        require(allowMetaData,
          s"${snap.root}: commit $v changes table metadata — restart " +
            "the stream from a fresh snapshot")
        metas += parseMetaData(md, snap.root)
      }
      // a protocol change that stays within this module's reader
      // capabilities is a pure capability bump (e.g. the upstream's
      // first DV commit upgrading to table features) — metadata only,
      // nothing for a file-set delta to carry; anything this reader
      // could MISREAD refuses with the reset signal
      bodies(actions, "protocol").foreach(p => beyondReader(p).foreach(what => throw
        new IllegalArgumentException(s"${snap.root}: commit $v upgrades " +
          s"the protocol past this reader ($what) — restart the stream " +
          "from a fresh snapshot")))
      // removes first, adds second — the same within-version
      // reconciliation as [[replay]]; a remove's DV descriptor only
      // describes the departing file, the whole-file drop supersedes it
      bodies(actions, "remove").foreach { r =>
        require(allowRemoves,
          s"${snap.root}: commit $v REMOVES files — not append-shaped; " +
            "an incremental read cannot represent a rewrite: restart " +
            "the stream from a fresh snapshot")
        state(decodePath(r.get("path").asText())) = None
      }
      bodies(actions, "add").foreach { a =>
        val add = parseAdd(a, snap.root)
        require(add.dv.isEmpty || allowDvAdds,
          s"${snap.root}: commit $v adds a DELETION-VECTOR'd file — a " +
            "merge-on-read rewrite, not an append; restart the stream " +
            "from a fresh snapshot")
        val mapped = if (snap.colMap.isEmpty) add
          else add.copy(partition = add.partition.flatMap { case (k, vv) =>
            physToLogical.get(k).map(_ -> vv) })
        state(mapped.path) = Some(mapped)
        addedAnywhere += mapped.path
        metaIdx(mapped.path) = metas.length
      }
    }
    WindowDelta(
      adds = state.valuesIterator.flatten.toSeq,
      removedPaths = state.collect { case (p, None) => p }.toSeq,
      addedAnywhere = addedAnywhere.result(),
      metas = metas.toSeq,
      metaIdxByPath = metaIdx.toMap)
  }
}
