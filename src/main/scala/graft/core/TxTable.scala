package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, pmod}
import org.apache.spark.sql.graft.Pins
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}

/** Minimal transactional table on plain parquet — the capability the
  * reference gets from Delta (ascii-hydra `resources/spark.py:65-69`:
  * ACID overwrite + `schema.autoMerge`; `pipes/utils.py:85-89`:
  * vacuum/retention), re-expressed as a commit log over parquet
  * files, since no transactional-format jars ship in this
  * environment and the protocol itself is the interesting part.
  *
  * Layout:
  * {{{
  *   table/
  *     _graft_log/00000000000000000000.json            // commit DELTA per version
  *     _graft_log/00000000000000000001.json
  *     _graft_log/00000000000000000010.checkpoint.json // full snapshot every 10 commits
  *     _graft_log/_latest                              // version hint (see below)
  *     _graft_log/_last_checkpoint                     // checkpoint hint
  *     data/<writeId>/part-*.parquet                   // immutable data files
  *     data/<writeId>/__pt_k=v/part-*.parquet          // partitioned layout
  * }}}
  *
  * **Checkpointed commit log** (the Delta-log discipline, sized for
  * 10⁶-file tables): each version's `N.json` records only the commit's
  * DELTA — files added, file paths removed, the (small) layout/schema
  * header, and the commit's transaction tag — so per-commit log bytes
  * are ∝ files CHANGED, never ∝ table size. Every
  * [[TxTable.CheckpointInterval]] commits, the full snapshot (complete
  * file listing + stats + accumulated txn map) is additionally written
  * to `N.checkpoint.json` (best-effort, AFTER the commit publishes —
  * a missing checkpoint only lengthens the replay, never loses data).
  * Snapshot state is reconstructed by walking back from the requested
  * version to the nearest checkpoint and replaying ≤ interval deltas
  * forward (a version file is always a delta; a pre-delta
  * full-manifest log entry is refused by name); a JVM-wide cache of
  * the latest reconstructed state per table root makes the hot path
  * (streaming writer, repeated reads) zero extra log reads. The reconstructed state is the COMPLETE file
  * listing of one snapshot plus the snapshot's schema (DDL), each file
  * tagged with its partition values. All correctness flows from three
  * rules:
  *
  *   1. **Data files are immutable and write-once.** Every write lands
  *      in a fresh `data/<writeId>/` dir; no commit ever mutates or
  *      deletes a file another snapshot references (only [[vacuum]]
  *      deletes, and only unreferenced files).
  *   2. **Readers never list the directory.** A read resolves the
  *      latest committed manifest and pins its file list — so a
  *      concurrent overwrite/append/compact is invisible until its
  *      manifest lands (snapshot isolation), and a crashed write (data
  *      files without a manifest) is invisible forever.
  *   3. **Commits are put-if-absent on the next version number.** The
  *      manifest is fully written to a `.tmp-*` file first, then
  *      renamed to `N.json` only if `N.json` does not exist — a torn
  *      JSON can never carry a live version name, and two writers
  *      racing for version N serialize: the loser re-reads the new
  *      latest snapshot and retries against N+1 (optimistic
  *      concurrency). The exists+rename publish is serialized JVM-wide
  *      per table root (RawLocalFileSystem.rename silently replaces on
  *      posix); on HDFS the rename is atomic fail-if-exists natively;
  *      an object store deployment would back this with a conditional
  *      put / commit service — the LogStore seam transactional formats
  *      define.
  *
  * **Partitioned layout** ([[overwrite]]/[[append]] with
  * `partitionBy`): data files land under Hive-style `__pt_<col>=<v>/`
  * dirs AND keep the column as a regular data column (the `__pt_`
  * duplicate exists only for directory layout; parquet RLE makes the
  * constant column ~free). The manifest records each file's partition
  * values, so [[readWhere]] prunes the FILE LIST before the scan —
  * planning-side pruning that never touches the filesystem — and the
  * scan itself is one plain multi-file parquet read (no partition
  * discovery over heterogeneous write dirs). Row-group stats on the
  * retained data column still drive ordinary pushdown below the
  * pruned list.
  *
  * **Copy-on-write MERGE** ([[overwriteBucketed]] + [[merge]]/
  * [[upsert]]): the table's rows are hash-bucketed by key into
  * `__bucket` partitions; a merge computes the source's bucket set,
  * reads ONLY files in those buckets, resolves, rewrites those
  * buckets, and commits untouched-files + new-files in one manifest.
  * Files outside the touched buckets are carried by reference —
  * byte-identical across the commit (TxTableSpec pins this). Merge
  * cost is O(touched buckets), never O(table): the file-granularity
  * rewrite the reference buys with Delta MERGE INTO.
  *
  * **Snapshot resolution is O(1), not O(commits)**: every commit
  * updates a `_latest` hint file; resolution reads the hint and
  * probes forward (a stale hint under-counts, never over-counts, so
  * correctness never depends on it — a missing/torn hint falls back
  * to listing). A long-running streaming writer (one commit per
  * microbatch) keeps constant-time reads; [[versions]] (history,
  * vacuum, expiry) still lists, maintenance being O(commits) by
  * nature.
  *
  * **Exactly-once streaming commits**: a commit can carry a
  * `(appId, batchId)` transaction tag; the manifest carries the
  * latest batchId PER app forward (the SetTransaction discipline), so
  * a replayed microbatch detects its own prior commit via
  * [[lastTxn]] and no-ops — protocol idempotence replacing value
  * idempotence.
  *
  * 100 TB posture: query planning reads ONE small JSON (the manifest)
  * instead of listing millions of objects; time travel and snapshot
  * isolation come for free from immutability; [[compact]] is just
  * another committed snapshot, so maintenance never blocks readers;
  * merges rewrite only matched buckets. A production-hardened variant
  * would shard the file listing into manifest lists and track
  * per-file column stats for data skipping — noted, out of scope.
  *
  * Schema evolution ([[append]] with `mergeSchemas`): appending a
  * frame with NEW columns widens the snapshot schema (new fields
  * nullable); old files simply lack the column and the parquet reader
  * null-backfills, because every read passes the snapshot schema
  * explicitly. Dropping/retyping existing columns is refused — silent
  * coercion is how corpora rot.
  */
final class TxTable private (spark: SparkSession, root: Path, fs: FileSystem,
    statsOnWrite: Boolean, changeDataFeed: Boolean,
    deletionVectors: Boolean) {
  import TxTable._

  private def logDir  = new Path(root, LogDirName)
  private def dataDir = new Path(root, "data")
  private def latestHintPath = new Path(logDir, "_latest")
  private def lastCheckpointHintPath = new Path(logDir, "_last_checkpoint")
  private def cacheKey: String = fs.makeQualified(root).toString

  // ---- snapshot resolution ------------------------------------------------

  /** Committed versions, ascending (expired snapshots excluded).
    * O(commits) — used by maintenance (history/expiry/vacuum), not by
    * reads: [[latestVersion]] resolves in O(1) via the hint. */
  def versions: Seq[Long] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq
      .flatMap(st => versionOf(st.getPath.getName))
      .sorted

  /** Filesystem calls the last [[latestVersion]] resolution made —
    * instrumentation so tests can pin that resolution stays O(1) as
    * the log grows (the hint + forward-probe path). */
  @volatile private[graft] var lastResolveOps: Int = 0

  /** Latest committed version: read the `_latest` hint, then probe
    * forward until the next version is absent. The hint is advisory —
    * written AFTER the rename that publishes a commit, so it can lag
    * (probing forward recovers) but never leads; absent/torn hints
    * fall back to the listing. */
  def latestVersion: Option[Long] = {
    var ops = 0
    val hinted: Option[Long] = { ops += 1; readHint(latestHintPath) }
    val resolved = hinted match {
      case Some(h) if { ops += 1; fs.exists(manifestPath(h)) } =>
        var v = h
        while ({ ops += 1; fs.exists(manifestPath(v + 1)) }) v += 1
        Some(v)
      case _ =>
        ops += 1 // the listing
        versions.lastOption
    }
    lastResolveOps = ops
    resolved
  }

  private def manifestPath(v: Long) = new Path(logDir, f"$v%020d.json")
  private def checkpointPath(v: Long) = new Path(logDir, f"$v%020d.checkpoint.json")

  private def readLogFile(p: Path): String = {
    val in = fs.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The raw log entry of version `v`, a [[CommitDelta]]. The byte
    * length rides along as the state-cache freshness token. */
  private def logEntryWithLen(v: Long): (CommitDelta, Long) = {
    val p = manifestPath(v)
    require(fs.exists(p), s"snapshot $v of $root does not exist (expired?)")
    val in = fs.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    (LogFormat.parseEntry(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)),
      bytes.length.toLong)
  }

  private def logEntry(v: Long): CommitDelta = logEntryWithLen(v)._1

  /** Log reads (entry/checkpoint files opened + existence probes) the
    * last [[manifest]] reconstruction made — instrumentation so tests
    * can pin that state resolution stays O(interval), not O(commits),
    * as the log grows. */
  @volatile private[graft] var lastStateOps: Int = 0

  /** Snapshot STATE of version `v`, reconstructed from the log:
    * nearest self-contained base at or below `v` (the JVM cache or a
    * checkpoint), plus ≤ interval replayed deltas. The cache holds the highest reconstructed state per table
    * root — versions are immutable, so a cached state ≤ v is always a
    * valid replay base; a cached state > v (time travel) falls back to
    * the checkpoint walk. */
  private def manifest(v: Long): Manifest = {
    var ops = 0
    var stateLen = -1L // entry byte length of the reconstructed version
    // validate any cached candidate against the LIVE log before use: a
    // root deleted and recreated in place restarts at version 0, so
    // the live entry at the cached version has a different byte length
    // — evict instead of replaying new deltas onto the stale base. An
    // entry absent from disk is EXPIRY (valid immutable base) unless
    // it is the exact requested version (retention contract: fail).
    val cached: Option[Manifest] = TxTable.cachedStateFor(cacheKey)
      .filter(_.m.version <= v)
      .filter { c =>
        val status =
          try { ops += 1; Some(fs.getFileStatus(manifestPath(c.m.version))) }
          catch { case _: java.io.FileNotFoundException => None }
        status match {
          case Some(st) =>
            val fresh = c.entryLen < 0 || st.getLen == c.entryLen
            if (!fresh) TxTable.evictState(cacheKey)
            fresh
          case None =>
            require(c.m.version != v,
              s"snapshot $v of $root does not exist (expired?)")
            true
        }
      }.map(_.m)
    if (cached.exists(_.version == v)) {
      lastStateOps = ops // zero log reads/parses on the hot path
      return cached.get
    }
    def replayForward(base: Manifest, from: Long): Manifest = {
      var state = base
      var k = from
      while (k <= v) {
        ops += 1
        val (delta, len) = logEntryWithLen(k)
        state = applyDelta(state, delta)
        if (k == v) stateLen = len
        k += 1
      }
      state
    }
    val state = cached match {
      case Some(c) => replayForward(c, c.version + 1)
      case None =>
        // `_last_checkpoint` fast path: jump straight to the hinted
        // checkpoint when it's at or below v (advisory like `_latest`
        // — stale/missing falls through to the bounded walk)
        val hinted = { ops += 1; readHint(lastCheckpointHintPath) }
          .filter(h => h <= v && v - h <= 2L * CheckpointInterval)
          .filter { h => ops += 1; fs.exists(checkpointPath(h)) }
        hinted match {
          case Some(h) if h < v =>
            ops += 1
            replayForward(Manifest.fromJson(readLogFile(checkpointPath(h))), h + 1)
          case _ =>
            // walk back collecting deltas until a checkpoint —
            // bounded by the checkpoint interval once checkpoints exist
            val pending = scala.collection.mutable.ArrayBuffer.empty[CommitDelta]
            var base: Manifest = null
            var k = v
            while (base == null && k >= 0) {
              ops += 1
              if (fs.exists(checkpointPath(k)))
                base = Manifest.fromJson(readLogFile(checkpointPath(k)))
              else {
                ops += 1
                val (delta, len) = logEntryWithLen(k)
                if (k == v) stateLen = len
                pending += delta
                k -= 1
              }
            }
            var s = if (base != null) base else emptyState
            pending.reverseIterator.foreach(d => s = applyDelta(s, d))
            s
        }
    }
    lastStateOps = ops
    require(state.version == v, s"snapshot $v of $root did not reconstruct")
    TxTable.cacheState(cacheKey, state, stateLen)
    state
  }

  /** The state before version 0 — what replay of a whole log starts
    * from. */
  private val emptyState = Manifest(-1L, "none", "", Nil)

  /** One replay step: the delta's add/remove against the previous file
    * list; layout/schema/operation come from the delta (each commit
    * records its full — small — header), txn tags accumulate (the
    * exactly-once bookkeeping: every app's latest batchId carries
    * forward, this commit's tag folds in). */
  private def applyDelta(prev: Manifest, d: CommitDelta): Manifest = {
    val removed = d.remove.toSet
    Manifest(d.version, d.operation, d.schemaDdl,
      prev.files.filterNot(f => removed(f.path)) ++ d.add,
      d.partitionCols, d.bucketSpec, prev.txns ++ d.txn, d.properties,
      d.colMap, d.retired)
  }

  /** File entries of snapshot `v` (path + partition values) — the
    * planning surface: pruning filters THIS list, the scan reads what
    * survives. */
  private[graft] def fileEntries(v: Long): Seq[FileEntry] = manifest(v).files

  /** TEST SEAM — drop this root's JVM state cache so a spec can force
    * cold log reconstruction (the cross-process read path). */
  private[graft] def invalidateCachedState(): Unit = TxTable.evictState(cacheKey)

  /** TEST SEAM (log-protocol scale tests): publish a commit whose file
    * entries are synthetic — zero data IO, but the commit loop, delta
    * serialization, checkpoint cadence, and hints run exactly as for
    * real writes. Lets a spec drive a 10⁴-file, 10²-commit log in
    * milliseconds; never called from production paths. */
  private[graft] def commitSynthetic(op: String, add: Seq[FileEntry],
      remove: Set[String] = Set.empty, schemaDdl: String): Long =
    commit { latest =>
      Pending(op, schemaDdl, latest.map(_.partitionCols).getOrElse(Nil),
        latest.flatMap(_.bucketSpec), None, add, remove)
    }

  /** Every live path of `latest` — the remove set of a verb that
    * replaces the whole file list. */
  private def livePaths(latest: Option[Manifest]): Set[String] =
    latest.map(_.files.iterator.map(_.path).toSet).getOrElse(Set.empty)

  /** The table's root directory as given to [[TxTable.apply]]. */
  def location: String = root.toString

  /** True iff the latest snapshot carries any logical→physical column
    * rename (read relations then cannot be bare parquet file lists). */
  private[graft] def hasColumnMapping: Boolean =
    latestVersion.exists(v => manifest(v).colMap.nonEmpty)

  /** The latest snapshot's hive-partition layout columns (empty for
    * flat/bucketed tables) — what an INSERT OVERWRITE must preserve. */
  def partitionColumns: Seq[String] =
    latestVersion.map(manifest(_).partitionCols).getOrElse(Nil)
      .filterNot(_ == BucketCol)

  /** The key columns of a bucketed layout, if any — what
    * [[merge]]/[[upsert]]/[[deleteKeys]] route on (and what a SQL
    * MERGE's ON clause must equal). */
  def bucketKeys: Option[Seq[String]] =
    latestVersion.map(manifest).flatMap(_.bucketSpec).map(_.cols)

  /** Latest batchId committed by `appId`, if any — the exactly-once
    * handshake for streaming writers: a replayed microbatch sees its
    * own prior commit here and no-ops. Reads one manifest. */
  def lastTxn(appId: String): Option[Long] =
    latestVersion.flatMap(v => manifest(v).txns.get(appId))

  /** The exactly-once rule of a streaming writer's microbatch `batchId`
    * under `appId`: true when that batch is already committed, a
    * crash-after-commit replay the caller skips. Structured Streaming
    * replays at most the LAST uncommitted batch, so a batchId BELOW
    * the last commit means the checkpoint was reset against a live
    * table (a fresh stream restarts at 0); skipping every batch up to
    * the last commit would silently discard the new stream's data, so
    * that refuses by name instead (resume by pointing the new stream
    * at a new table or a new txn app id — the Delta txnAppId
    * discipline). */
  def committedBatch(appId: String, batchId: Long): Boolean = {
    val last = lastTxn(appId)
    last.foreach(l => require(batchId >= l,
      s"batchId $batchId < last committed $l for app $appId — " +
        "checkpoint reset against a live table; use a fresh table dir " +
        "or txn app id instead of silently dropping batches"))
    last.contains(batchId)
  }

  // ---- table properties ---------------------------------------------------

  /** The latest snapshot's table properties (persisted in every log
    * entry's header, carried forward across commits). */
  def properties: Map[String, String] =
    latestVersion.map(manifest(_).properties).getOrElse(Map.empty)

  /** Merge `kv` into the table properties — a METADATA-ONLY commit
    * (file list untouched). Recognized keys change behavior for EVERY
    * writer, whatever its handle flags (the Delta table-property
    * discipline): [[TxTable.PropDeletionVectors]],
    * [[TxTable.PropChangeDataFeed]], [[TxTable.PropStatsOnWrite]]. An
    * explicit property outranks the handle flag; unset falls back. */
  def setProperties(kv: Map[String, String]): Long = commit { latest =>
    val cur = latest.getOrElse(sys.error(s"$root has no committed snapshots"))
    Pending(TxTable.OpSetProperties, cur.schemaDdl, cur.partitionCols,
      cur.bucketSpec, None, properties = Some(cur.properties ++ kv))
  }

  /** Remove property keys (missing keys are ignored) — metadata-only
    * commit like [[setProperties]]. */
  def unsetProperties(keys: Seq[String]): Long = commit { latest =>
    val cur = latest.getOrElse(sys.error(s"$root has no committed snapshots"))
    Pending(TxTable.OpSetProperties, cur.schemaDdl, cur.partitionCols,
      cur.bucketSpec, None, properties = Some(cur.properties -- keys))
  }

  // ---- schema evolution verbs (column mapping) ----------------------------

  /** Logical columns that own the table's physical layout or write-side
    * index configuration — rename/drop would break bucket routing,
    * partition-dir naming, or the property→column binding (Delta
    * refuses the same). Lower-cased for case-insensitive checks. */
  private def layoutProtected(m: Manifest): Set[String] = {
    def propCols(key: String): Seq[String] = m.properties.getOrElse(key, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    (m.partitionCols ++ m.bucketSpec.map(_.cols).getOrElse(Nil) ++
      propCols(TxTable.PropBloomColumns) ++
      propCols(TxTable.PropZOrderColumns)).map(_.toLowerCase).toSet
  }

  private def requirePlainIdentifier(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"'$name' is not a plain column identifier")

  /** `ALTER TABLE ... RENAME COLUMN old TO new` — a METADATA-ONLY
    * commit (zero data read or written): the physical parquet name is
    * frozen at column birth, so the rename just rebinds the logical
    * name in the snapshot's column mapping. Reads of any version use
    * that version's own mapping (time travel sees historical names);
    * stats/bloom keys stay physical, so zone-map and Bloom skipping
    * keep working on the renamed column. Layout columns
    * (partition/bucket/bloom/z-order-designated) are refused — their
    * names bind the physical layout. Change-feed consumers reset (the
    * downstream frame shape changed). */
  def renameColumn(oldName: String, newName: String): Long = commit { latest =>
    val cur = latest.getOrElse(sys.error(s"$root has no committed snapshots"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val field = schema.fields.find(_.name.equalsIgnoreCase(oldName))
      .getOrElse(sys.error(s"$root has no column $oldName"))
    requirePlainIdentifier(newName)
    require(field.name != BucketCol,
      s"$root: $oldName is internal plumbing")
    require(!schema.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"$root already has a column $newName")
    require(!layoutProtected(cur).contains(field.name.toLowerCase),
      s"$root: $oldName is a partition/bucket/bloom/z-order layout " +
        "column — renaming would break layout routing; rewrite the " +
        "table into the new layout instead")
    requireNotConstrained(cur, field.name, "renaming it")
    val phys = cur.colMap.getOrElse(field.name, field.name)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == field.name) f.copy(name = newName) else f).toSeq)
    val newMap = (cur.colMap - field.name) ++
      (if (newName == phys) Map.empty[String, String]
       else Map(newName -> phys))
    Pending(TxTable.OpAlterColumn, newSchema.toDDL, cur.partitionCols,
      cur.bucketSpec, None, colMap = Some(newMap),
      retired = Some(cur.retired))
  }

  /** `ALTER TABLE ... DROP COLUMN` — METADATA-ONLY: the column leaves
    * the logical schema and its physical name is RETIRED (old data
    * files still carry the bytes until they naturally rewrite, but no
    * read ever requests the column again, and a later column of the
    * same logical name gets a fresh physical name so the stale data
    * cannot resurrect). Layout columns are refused; so is dropping
    * the last data column. */
  def dropColumn(name: String): Long = commit { latest =>
    val cur = latest.getOrElse(sys.error(s"$root has no committed snapshots"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(sys.error(s"$root has no column $name"))
    require(field.name != BucketCol, s"$root: $name is internal plumbing")
    require(!layoutProtected(cur).contains(field.name.toLowerCase),
      s"$root: $name is a partition/bucket/bloom/z-order layout column " +
        "— dropping would break layout routing")
    requireNotConstrained(cur, field.name, "dropping it")
    val remaining = schema.fields.filterNot(_.name == field.name)
    require(remaining.exists(_.name != BucketCol),
      s"$root: cannot drop the last data column")
    val phys = cur.colMap.getOrElse(field.name, field.name)
    Pending(TxTable.OpAlterColumn, StructType(remaining.toSeq).toDDL,
      cur.partitionCols, cur.bucketSpec, None,
      colMap = Some(cur.colMap - field.name),
      retired = Some((cur.retired :+ phys).distinct))
  }

  /** `ALTER TABLE ... ADD COLUMN` — METADATA-ONLY: the new column is
    * nullable (old files null-backfill by the ordinary
    * schema-evolution read rule) and receives a physical name
    * guaranteed unused by any live OR retired column, so re-adding a
    * previously dropped name starts from all-NULL instead of
    * resurrecting stale bytes. */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = commit { latest =>
    val cur = latest.getOrElse(sys.error(s"$root has no committed snapshots"))
    val schema = StructType.fromDDL(cur.schemaDdl)
    requirePlainIdentifier(name)
    require(!schema.fields.exists(_.name.equalsIgnoreCase(name)),
      s"$root already has a column $name")
    val physInUse = schema.fields.map(f =>
      cur.colMap.getOrElse(f.name, f.name)).toSet ++ cur.retired
    val phys =
      if (!physInUse.exists(_.equalsIgnoreCase(name))) name
      else name + "_" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(8)
    val newSchema = StructType(schema.fields.toSeq :+
      org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
    val newMap = cur.colMap ++
      (if (phys == name) Map.empty[String, String] else Map(name -> phys))
    Pending(TxTable.OpAlterColumn, newSchema.toDDL, cur.partitionCols,
      cur.bucketSpec, None, colMap = Some(newMap),
      retired = Some(cur.retired))
  }

  /** Append/overwrite widening guard under column mapping: a NEW
    * logical column whose identity-physical name is already taken —
    * retired by a drop, or serving as another column's physical name
    * — must come in through [[addColumn]] (which assigns a fresh
    * physical name); an identity write would collide with stale or
    * foreign bytes in existing files. */
  private def requireFreshNamesAddressable(m: Manifest,
      incoming: StructType): Unit = {
    val known = StructType.fromDDL(m.schemaDdl).fieldNames.toSet
    val reservedPhys = m.retired ++ m.colMap.values
    val clash = incoming.fieldNames.filterNot(known.contains)
      .filter(n => reservedPhys.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"$root: column(s) ${clash.mkString(", ")} reuse the physical name " +
        "of a dropped/renamed column — ALTER TABLE ADD COLUMN first " +
        "(assigns a fresh physical name)")
  }

  // ---- CHECK constraints (write invariants) -------------------------------

  /** The table's CHECK constraints (name → SQL condition), persisted
    * as `graft.constraints.<name>` properties. */
  def constraints: Map[String, String] = invariantsOf(properties)._1

  /** The write invariants `props` carries: CHECK constraints (name →
    * condition, `graft.constraints.*`) and NOT NULL columns
    * (`graft.notNull.*`) — what every write enforces, and what a
    * racing commit may not change under a rebased one. */
  private def invariantsOf(props: Map[String, String])
      : (Map[String, String], Set[String]) =
    (props.collect {
      case (k, v) if k.startsWith(TxTable.PropConstraintPrefix) =>
        k.stripPrefix(TxTable.PropConstraintPrefix) -> v
    }, props.keySet.collect {
      case k if k.startsWith(TxTable.PropNotNullPrefix) =>
        k.stripPrefix(TxTable.PropNotNullPrefix)
    })

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (cond)` — persists the
    * condition as a table property after verifying EVERY existing row
    * satisfies it (one scan, refused otherwise — the Delta
    * discipline). From then on every write through any handle runs
    * the check INSIDE the write job (a codegen'd guard predicate, no
    * extra pass): a violating row fails the write before anything
    * commits. SQL NULL semantics: a condition evaluating NULL passes
    * (only FALSE violates). */
  def addCheckConstraint(name: String, conditionSql: String): Long = {
    requirePlainIdentifier(name)
    val key = TxTable.PropConstraintPrefix + name
    require(!properties.contains(key),
      s"$root already has a constraint $name")
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val violations = read()
      .where(coalesce(expr(conditionSql), lit(true)) === false)
      .limit(1).count()
    require(violations == 0,
      s"$root: existing rows violate CHECK ($conditionSql) — clean the " +
        "data before adding the constraint")
    setProperties(Map(key -> conditionSql))
  }

  /** Drop a CHECK constraint (missing names are ignored — the
    * IF EXISTS default; SQL routes its own refusal). */
  def dropConstraint(name: String): Long =
    unsetProperties(Seq(TxTable.PropConstraintPrefix + name))

  // ---- NOT NULL + generated columns (schema-DDL siblings of CHECK) --------

  /** Columns carrying a NOT NULL invariant (persisted as
    * `graft.notNull.<col>` properties — the CHECK discipline). */
  def notNullColumns: Seq[String] = invariantsOf(properties)._2.toSeq.sorted

  /** `ALTER TABLE ... ALTER COLUMN col SET NOT NULL` — verifies no
    * existing row is null (one scan, refused otherwise — the Delta
    * discipline), then persists; every later write through any handle
    * enforces inside the write job, and a write frame MISSING the
    * column refuses outright (null backfill would violate). */
  def setNotNull(colName: String): Long = {
    val schema = StructType.fromDDL(
      manifest(latestVersion.getOrElse(sys.error(s"$root has no snapshots")))
        .schemaDdl)
    require(schema.fields.exists(_.name.equalsIgnoreCase(colName)),
      s"$root has no column $colName")
    val nulls = read().where(col(s"`$colName`").isNull).limit(1).count()
    require(nulls == 0,
      s"$root: existing rows hold NULL in $colName — clean the data " +
        "before adding NOT NULL")
    setProperties(Map(TxTable.PropNotNullPrefix + colName.toLowerCase -> "true"))
  }

  /** `ALTER COLUMN col DROP NOT NULL` — releases the invariant. */
  def dropNotNull(colName: String): Long =
    unsetProperties(Seq(TxTable.PropNotNullPrefix + colName.toLowerCase))

  /** Generated columns (name → generation expression SQL), persisted
    * as `graft.generated.<col>` properties. */
  def generatedColumns: Map[String, String] =
    properties.collect {
      case (k, v) if k.startsWith(TxTable.PropGeneratedPrefix) =>
        k.stripPrefix(TxTable.PropGeneratedPrefix) -> v
    }

  /** Declare `colName` GENERATED ALWAYS AS (exprSql) — the Delta
    * generated-column contract: a write that OMITS the column gets it
    * computed inside the write job; a write that supplies it must
    * supply exactly the generated value (enforced like CHECK, null-
    * safe equality) or the write fails before committing. Existing
    * rows are validated first (one scan). */
  def addGeneratedColumn(colName: String, exprSql: String): Long = {
    val schema = StructType.fromDDL(
      manifest(latestVersion.getOrElse(sys.error(s"$root has no snapshots")))
        .schemaDdl)
    require(schema.fields.exists(_.name.equalsIgnoreCase(colName)),
      s"$root has no column $colName — ALTER TABLE ADD COLUMN first")
    require(!constraintColumns(exprSql).contains(colName.toLowerCase),
      s"generation expression for $colName may not reference itself")
    import org.apache.spark.sql.functions.expr
    val bad = read()
      .where(!(col(s"`$colName`") <=> expr(exprSql))).limit(1).count()
    require(bad == 0,
      s"$root: existing rows violate $colName = ($exprSql) — clean the " +
        "data before declaring the generated column")
    setProperties(Map(
      TxTable.PropGeneratedPrefix + colName.toLowerCase -> exprSql))
  }

  /** Release a generated-column declaration (the column stays). */
  def dropGeneratedColumn(colName: String): Long =
    unsetProperties(Seq(TxTable.PropGeneratedPrefix + colName.toLowerCase))

  // ---- identity columns (GENERATED BY DEFAULT AS IDENTITY) ----------------

  /** Identity columns: name → (start, step, highWater). `highWater`
    * is the largest value the table has ever minted OR ingested for
    * the column — the commit loop advances it transactionally from
    * the committed files' max stats, so it survives any writer. */
  def identityColumns: Map[String, (Long, Long, Long)] =
    properties.collect {
      case (k, v) if k.startsWith(TxTable.PropIdentityPrefix) =>
        val Array(s, p, h) = v.split(',').map(_.trim.toLong)
        k.stripPrefix(TxTable.PropIdentityPrefix) -> ((s, p, h))
    }

  /** Declare `colName` GENERATED BY DEFAULT AS IDENTITY (START WITH
    * `start` INCREMENT BY `step`): a write that OMITS the column gets
    * values minted inside the write job; a write that supplies it
    * passes through (the BY DEFAULT contract — which is also what
    * lets every internal rewrite path carry existing ids untouched).
    * Delta-documented semantics: values are unique and ascending, but
    * NOT consecutive — minting packs (partition, row) like
    * `monotonically_increasing_id`, so each assigning write consumes
    * id space ~nPartitions·2³³·step; BIGINT leaves ~10⁶ such writes
    * of headroom, and the commit advances highWater to the committed
    * MAX, so unused reservation is reclaimed except in the last
    * partition. Concurrency: two writers minting from the same base
    * would collide — the commit loop detects the stale base and fails
    * LOUDLY (rerun re-mints against the new highWater); supplied-value
    * writers never conflict (their max folds in monotonically). */
  def addIdentityColumn(colName: String, start: Long = 1L,
      step: Long = 1L): Long = {
    require(step > 0, s"identity step must be positive, got $step")
    val m = manifest(latestVersion.getOrElse(sys.error(s"$root has no snapshots")))
    val schema = StructType.fromDDL(m.schemaDdl)
    val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      sys.error(s"$root has no column $colName — ALTER TABLE ADD COLUMN first"))
    require(f.dataType == LongType,
      s"identity column $colName must be BIGINT, got ${f.dataType.simpleString}")
    require(!m.properties.contains(TxTable.PropGeneratedPrefix +
        colName.toLowerCase),
      s"$colName is already a generated column — a column cannot be both")
    // seed the high water from the data so the first mint can never
    // collide with ingested values (one bounded agg over max stats —
    // or a scan where stats are absent)
    val existingMax: Option[Long] = {
      import org.apache.spark.sql.functions.max
      if (m.files.isEmpty) None
      else Option(read().agg(max(col(s"`$colName`"))).head.get(0))
        .map(_.asInstanceOf[Long])
    }
    val high0 = math.max(existingMax.getOrElse(start - step), start - step)
    setProperties(Map(TxTable.PropIdentityPrefix + colName.toLowerCase ->
      s"$start,$step,$high0"))
  }

  /** Release an identity declaration (the column and its values stay). */
  def dropIdentityColumn(colName: String): Long =
    unsetProperties(Seq(TxTable.PropIdentityPrefix + colName.toLowerCase))

  /** Columns a constraint condition references (top-level names) —
    * what rename/drop must refuse to break. */
  private def constraintColumns(conditionSql: String): Set[String] = {
    val parsed = org.apache.spark.sql.graft.StreamShims
      .parseExpression(spark, conditionSql)
    parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head.toLowerCase
    }.toSet
  }

  private def requireNotConstrained(m: Manifest, colName: String,
      verb: String): Unit =
    m.properties.foreach { case (k, v) =>
      if (k.startsWith(TxTable.PropConstraintPrefix))
        require(!constraintColumns(v).contains(colName.toLowerCase),
          s"$root: column $colName is referenced by CHECK constraint " +
            s"${k.stripPrefix(TxTable.PropConstraintPrefix)} ($v) — drop " +
            s"the constraint before $verb")
      else if (k.startsWith(TxTable.PropNotNullPrefix))
        require(k.stripPrefix(TxTable.PropNotNullPrefix) !=
            colName.toLowerCase,
          s"$root: column $colName is NOT NULL — DROP NOT NULL before $verb")
      else if (k.startsWith(TxTable.PropGeneratedPrefix)) {
        require(k.stripPrefix(TxTable.PropGeneratedPrefix) !=
            colName.toLowerCase,
          s"$root: column $colName is a generated column ($v) — drop the " +
            s"generation before $verb")
        require(!constraintColumns(v).contains(colName.toLowerCase),
          s"$root: column $colName is referenced by generated column " +
            s"${k.stripPrefix(TxTable.PropGeneratedPrefix)} ($v) — drop " +
            s"the generation before $verb")
      }
      else if (k.startsWith(TxTable.PropIdentityPrefix))
        require(k.stripPrefix(TxTable.PropIdentityPrefix) !=
            colName.toLowerCase,
          s"$root: column $colName is an identity column — DROP IDENTITY " +
            s"before $verb")
    }

  /** The write-side invariant guard: every constraint becomes a
    * codegen'd predicate evaluated in the write pass itself; a
    * violating row raises with the constraint name, condition, and
    * the row as JSON. Applied to LOGICAL frames (constraints speak
    * logical names) before physical renaming. */
  private def withInvariants(df: DataFrame, cs: Map[String, String]): DataFrame =
    if (cs.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{coalesce, concat, expr, lit, raise_error, struct, to_json, when}
      cs.foldLeft(df) { case (d, (name, sql)) =>
        d.where(
          when(coalesce(expr(sql), lit(true)) === false,
            raise_error(concat(
              lit(s"CHECK constraint $name violated: ($sql) on row "),
              to_json(struct(d.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))))
              .cast("boolean"))
          .otherwise(lit(true)))
      }
    }

  /** Generated-column write semantics: compute-if-absent, enforce-if-
    * supplied (null-safe equality, raise with the row — the
    * [[withInvariants]] shape). Runs BEFORE invariants so a CHECK may
    * reference a generated column. */
  private def withGenerated(df: DataFrame, gens: Map[String, String]): DataFrame =
    if (gens.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{concat, expr, lit, raise_error, struct, to_json, when}
      gens.foldLeft(df) { case (d, (name, sql)) =>
        if (!d.columns.exists(_.equalsIgnoreCase(name)))
          d.withColumn(name, expr(sql))
        else d.where(
          when(!(col(s"`$name`") <=> expr(sql)),
            raise_error(concat(
              lit(s"generated column $name violated: expected ($sql) on row "),
              to_json(struct(d.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))))
              .cast("boolean"))
            .otherwise(lit(true)))
      }
    }

  /** NOT NULL write guard: a null raises with the row; a frame that
    * LACKS the column refuses outright (the null backfill an append
    * would do is itself the violation). */
  private def withNotNull(df: DataFrame, cols: Iterable[String]): DataFrame =
    cols.foldLeft(df) { (d, name) =>
      require(d.columns.exists(_.equalsIgnoreCase(name)),
        s"$root: write frame lacks NOT NULL column $name — supply it or " +
          s"ALTER COLUMN $name DROP NOT NULL first")
      import org.apache.spark.sql.functions.{concat, lit, raise_error, struct, to_json, when}
      d.where(
        when(col(s"`$name`").isNull,
          raise_error(concat(
            lit(s"NOT NULL constraint violated: $name is null on row "),
            to_json(struct(d.columns.map(c => col(s"`$c`")).toIndexedSeq: _*))))
            .cast("boolean"))
          .otherwise(lit(true)))
    }

  private def boolProp(m: Manifest, key: String): Option[Boolean] =
    m.properties.get(key).map(v => java.lang.Boolean.parseBoolean(v.trim))

  /** Effective feature flags: table property if present, else this
    * handle's constructor flag. */
  private def effDv(m: Manifest): Boolean =
    boolProp(m, TxTable.PropDeletionVectors).getOrElse(deletionVectors)
  private def effCdf(m: Manifest): Boolean =
    boolProp(m, TxTable.PropChangeDataFeed).getOrElse(changeDataFeed)
  private def effStats: Boolean =
    (for { v <- latestVersion; b <- boolProp(manifest(v),
      TxTable.PropStatsOnWrite) } yield b).getOrElse(statsOnWrite)
  private def effBloomCols: Seq[String] =
    latestVersion.map(v => manifest(v).properties
        .getOrElse(TxTable.PropBloomColumns, ""))
      .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
  private def effBloomBits: Int = {
    val m = latestVersion.flatMap(v => manifest(v).properties
        .get(TxTable.PropBloomBits)).map(_.trim.toInt)
      .getOrElse(TxTable.BloomDefaultBits)
    require(m > 0 && m % 8 == 0, s"$root: ${TxTable.PropBloomBits} must " +
      "be a positive multiple of 8")
    m
  }

  // ---- reads --------------------------------------------------------------

  /** Latest committed snapshot. The returned frame pins the snapshot's
    * file list — a later overwrite does not change what it reads
    * (snapshot isolation), because overwrites add files, never remove
    * them. */
  def read(): DataFrame =
    readVersion(latestVersion.getOrElse(
      sys.error(s"$root has no committed snapshots")))

  /** Time travel: read snapshot `v` exactly as committed. */
  def readVersion(v: Long): DataFrame = {
    val m = manifest(v)
    readEntries(m, m.files)
  }

  /** The newest version committed AT OR BEFORE `tsMillis` (commit
    * instant = the log entry's publish mtime, the Delta
    * timestampAsOf contract). None if `tsMillis` predates the oldest
    * RETAINED commit — expired history cannot be time-traveled.
    * O(retained versions) file stats, driver-side only. */
  def versionAt(tsMillis: Long): Option[Long] =
    versions.reverse.iterator.find { v =>
      fs.getFileStatus(manifestPath(v)).getModificationTime <= tsMillis
    }

  /** Time travel by wall clock: snapshot as of `tsMillis`. */
  def readTimestamp(tsMillis: Long): DataFrame =
    readVersion(versionAt(tsMillis).getOrElse(sys.error(
      s"$root has no snapshot committed at or before " +
        s"${java.time.Instant.ofEpochMilli(tsMillis)} — oldest retained " +
        "commit is newer (expired history cannot be time-traveled)")))

  /** Partition-pruned read of the latest snapshot: `pred` filters the
    * manifest's per-file partition values, so only matching files are
    * ever scanned. Planning-side pruning — zero filesystem listing,
    * zero data touched outside the predicate. Row order and schema
    * match [[read]] restricted to the matching partitions. */
  def readWhere(pred: Map[String, String] => Boolean): DataFrame = {
    val v = latestVersion.getOrElse(sys.error(s"$root has no committed snapshots"))
    val m = manifest(v)
    readEntries(m, m.files.filter(f => pred(f.partition)))
  }

  /** Data-skipping read: `column BETWEEN lo AND hi`, with files whose
    * manifest [min,max] range cannot intersect the bound DROPPED AT
    * PLANNING TIME (zone-map pruning over the commit log — the
    * per-file-stats discipline of transactional formats). Files
    * without stats for the column are kept; the residual WHERE makes
    * the result exact regardless of pruning. Sorted/range-partitioned
    * ingest makes ranges disjoint and the skip rate high. */
  def readWhereRange(column: String, lo: Any, hi: Any): DataFrame = {
    val v = latestVersion.getOrElse(sys.error(s"$root has no committed snapshots"))
    val m = manifest(v)
    // resolve case-insensitively like the rest of Spark's analyzer,
    // then use the SCHEMA's canonical spelling everywhere (the stats
    // maps are keyed by it)
    val field = StructType.fromDDL(m.schemaDdl).fields
      .find(_.name.equalsIgnoreCase(column))
      .getOrElse(sys.error(s"$root has no column $column"))
    val name = field.name
    // Float bounds widen asymmetrically: a Float bound makes the
    // residual filter compare in FLOAT space while statCmp parses the
    // bound as a plain double — hi = 0.1f would prune a file whose
    // min stat "0.1" widens to 0.10000000149 > 0.1, yet rows equal to
    // 0.1f pass the float residual. Widen the BOUND itself through
    // float (0.1f → 0.10000000149) so pruning and the residual
    // literal agree for every bound type.
    val (blo, bhi) = field.dataType match {
      case FloatType =>
        def widen(x: Any): Any = x match {
          case f: java.lang.Float => f.doubleValue()
          case other              => other
        }
        (widen(lo), widen(hi))
      case _ => (lo, hi)
    }
    // each bound prunes independently (a truncated-away string max
    // still leaves the min usable); unparsable stats keep the file —
    // pruning must never drop rows. Stats are keyed by the column's
    // PHYSICAL name (frozen at birth), which survives renames.
    val statKey = physNameOf(m, name)
    val kept = m.files.filter { f =>
      try
        f.max.get(statKey).forall(mx =>
          statCmp(field.dataType, mx, blo.toString) >= 0) &&
        f.min.get(statKey).forall(mn =>
          statCmp(field.dataType, mn, bhi.toString) <= 0)
      // IllegalArgumentException covers NumberFormatException AND the
      // date/timestamp parse failures — unparsable stat or bound
      // always keeps the file (pruning must never drop rows)
      catch { case _: IllegalArgumentException => true }
    }
    readEntries(m, kept)
      .where(col(name) >= org.apache.spark.sql.functions.lit(blo) &&
        col(name) <= org.apache.spark.sql.functions.lit(bhi))
  }

  /** True iff snapshot `v` carries any deletion vector — such a
    * snapshot's live rows are scan-minus-DV, which no bare file list
    * can express (the format/streaming seams branch on this). */
  private[graft] def snapshotHasDv(v: Long): Boolean =
    manifest(v).files.exists(_.dvPath.isDefined)

  /** The user-visible columns of a snapshot schema: the bucket column
    * and hive-shadow layout columns are plumbing, not data. */
  private def visibleSchema(full: StructType): StructType =
    StructType(full.fields.filterNot(f =>
      f.name == BucketCol || f.name.startsWith(PartShadowPrefix)).toSeq)

  /** An entry's file status from its commit-time size/mtime (zero
    * filesystem calls); a legacy entry with no recorded size is
    * stat-ed. */
  private def fileStatus(f: FileEntry): org.apache.hadoop.fs.FileStatus = {
    val p = new Path(root, f.path)
    if (f.bytes >= 0)
      new org.apache.hadoop.fs.FileStatus(
        f.bytes, false, 1, 134217728L, f.mtimeMs, fs.makeQualified(p))
    else fs.getFileStatus(p)
  }

  /** Snapshot `v` as a scan-time-pruned parquet relation — the read
    * path of the txtable format and SQL seam. Two properties the
    * plain [[readVersion]] frame lacks, both load-bearing at 10⁶
    * files: (1) planning lists NO directories (per-file size/mtime
    * were captured into the commit log at write time — metadata ops
    * are O(manifest), not O(filesystem)); (2) the scan's pushed data
    * filters drop files whose zone-map stats cannot match BEFORE any
    * IO (`WHERE price > x` over SQL/format reads skips like
    * [[readWhereRange]] does, with no special API). Split planning,
    * row-group pushdown, column pruning, and vectorized decode are
    * the stock parquet source's own over the pruned list. */
  private[graft] def scanRelation(v: Long): org.apache.spark.sql.sources.BaseRelation = {
    if (snapshotHasDv(v) || manifest(v).colMap.nonEmpty) {
      // deletion-vector snapshots cannot be a bare parquet file list
      // (live rows = scan minus DV), and column-mapped snapshots
      // cannot either (parquet columns carry physical names; the
      // relation must surface logical ones) — but file-level skipping
      // still applies: the relation rebuilds its DataFrame PER QUERY
      // from the pushed filters, zone-map/bloom-pruning the entry list
      // before the plan is even constructed
      val m = manifest(v)
      val schema = StructType.fromDDL(m.schemaDdl)
      return org.apache.spark.sql.graft.StreamShims.dataFrameRelation(
        StructType(visibleSchema(schema).fields
          .map(_.copy(nullable = true)).toSeq),
        spark,
        filters => {
          val keep = candidateFilter(schema,
            sourcesToCatalyst(schema, filters), physNameOf(m, _))
          readEntries(m, m.files.filter(keep))
        })
    }
    val m = manifest(v)
    val full = StructType.fromDDL(m.schemaDdl)
    val visible = visibleSchema(full)
    val statuses = m.files.map(fileStatus)
    org.apache.spark.sql.graft.StreamShims.manifestScanRelation(
      spark, root, visible, statuses,
      preds => {
        val keep = candidateFilter(full, preds)
        m.files.zip(statuses).collect { case (e, st) if keep(e) => st }
      },
      // metadata-answered count(*) and min/max ([[Manifest.stats]];
      // no DV snapshots reach this branch), min/max typed for the rule
      exactRowCount = m.stats.rows,
      exactMinMax = visible.fields.flatMap { f =>
        m.stats.bounds.get(f.name).flatMap { case (lo, hi) =>
          def parse(b: BigDecimal): Any = f.dataType match {
            case IntegerType => b.toIntExact
            case LongType    => b.toLongExact
            case DoubleType  => b.toDouble
            case FloatType   => b.toFloat
            case ShortType   => b.toShortExact
            case ByteType    => b.toByteExact
          }
          try Some(f.name -> ((parse(lo), parse(hi))))
          catch { case _: ArithmeticException => None }
        }
      }.toMap)
  }

  /** Planning payload for the DataSource-V2 catalog read path
    * ([[graft.sources.GraftCatalog]]): the snapshot's visible schema,
    * per-file statuses (manifest-recorded — zero directory listing),
    * the bucket layout, the zone-map file filter, the deletion-
    * vector surface, and the logical→physical column mapping — the
    * same ingredients [[scanRelation]] splices into the V1 seam,
    * shaped for a V2 `Batch`. */
  private[graft] def v2ScanInfo(v: Long): TxTable.V2ScanInfo = {
    val m = manifest(v)
    val full = StructType.fromDDL(m.schemaDdl)
    val visible = StructType(visibleSchema(full).fields
      .map(_.copy(nullable = true)).toSeq)
    val statuses = m.files.map(fileStatus)
    TxTable.V2ScanInfo(v, visible, m.files.zip(statuses),
      f => f.partition.get(BucketCol).map(_.toInt),
      m.bucketSpec.map(s => (s.cols, s.n)),
      filters => candidateFilter(full, sourcesToCatalyst(full, filters),
        physNameOf(m, _)),
      exactRowCount = m.stats.liveRows,
      dvOf = f => f.dvPath,
      loadDv = () => dvPositions(v),
      physNameOf = physNameOf(m, _))
  }

  /** Deletion-vector pairs `(DvPathCol, DvPosCol)` for `entries`,
    * SCOPED to each entry's OWN sidecar — None when no entry carries
    * a DV. Scoping is what makes restores sound: sidecars are shared
    * across files (one per DELETE/follow window), so when file A is
    * later re-pinned to a SMALLER replacement vector (an upstream
    * RESTORE through followDelta) while file B still pins the older
    * sidecar that also holds A's old positions, a naive union of all
    * distinct sidecars keyed by (path, position) would keep hiding
    * A's restored rows. Here a sidecar row only counts for data file
    * F if it lives in THE sidecar F's entry pins — the semi-join
    * below on (sidecar file name, data path); sidecar names are
    * engine-written `part-*-<uuid>.parquet`, unique and
    * encoding-stable, so the name IS the identity whatever root
    * spelling `_metadata.file_path` surfaces. Pin pairs are
    * manifest-entry-sized and broadcast. */
  private def dvPairs(entries: Seq[FileEntry]): Option[DataFrame] = {
    val dved = entries.filter(_.dvPath.isDefined)
    if (dved.isEmpty) return None
    import org.apache.spark.sql.functions.{broadcast, element_at, split => fsplit}
    val pins = dved.map(f => org.apache.spark.sql.Row(
      new Path(f.dvPath.get).getName, encodedRelPath(f.path)))
    val pinSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(DvSrcCol, StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField(DvPathCol, StringType,
        nullable = false)))
    val pinDf = spark.createDataFrame(
      spark.sparkContext.parallelize(pins, 1), pinSchema)
    val raw = spark.read
      .parquet(dved.flatMap(_.dvPath).distinct
        .map(p => new Path(root, p).toString): _*)
      .select(
        element_at(fsplit(col("_metadata.file_path"), "/"), -1).as(DvSrcCol),
        col(DvPathCol), col(DvPosCol))
    Some(raw.join(broadcast(pinDf), Seq(DvSrcCol, DvPathCol), "left_semi")
      .select(col(DvPathCol), col(DvPosCol)))
  }

  /** Per-data-file DELETED row positions of snapshot `v`, collected
    * driver-side — DV cardinality is the number of deleted rows,
    * model-sized next to the data (the same broadcast-scale
    * assumption the V1 anti-join path makes). Keys are root-relative
    * data paths; values sorted parquet row indexes. Scoped per entry
    * ([[dvPairs]]) so a restored file's stale positions in an older
    * shared sidecar stay dead. */
  private[graft] def dvPositions(v: Long): Map[String, Array[Long]] =
    dvPairs(manifest(v).files) match {
      case None => Map.empty
      case Some(dv) => dv.collect()
        .groupBy(_.getString(0))
        .map { case (p, rows) => p -> rows.map(_.getLong(1)).sorted }
    }

  /** Exact LIVE row count of snapshot `v` from the manifest alone
    * (per-entry counts minus deletion-vector rows) — what feeds the
    * relation's CBO [[org.apache.spark.sql.catalyst.plans.logical.Statistics]]
    * so named-txtable joins broadcast/reorder WITHOUT an external
    * ANALYZE. None when any entry predates row-count recording. */
  private[graft] def manifestRowCount(v: Long): Option[Long] =
    manifest(v).stats.liveRows

  /** Column-level CBO statistics straight from the manifest —
    * (min external string, max external string, null count) per
    * NUMERIC column where every entry carries the stat (the
    * [[V2ScanInfo.exactMinMax]] eligibility rule). Min/max are exact
    * bounds of the ON-DISK rows; deletion vectors can only NARROW the
    * live range, so as CBO estimates they are conservative, and the
    * null count is likewise an upper bound under DVs. What this buys:
    * filter-selectivity estimation (`FilterEstimation` interpolates
    * over min/max) on txtable relations with zero ANALYZE — a
    * selective range predicate shrinks the estimated join side enough
    * to flip CBO to broadcast, q34-style, on a table nobody scanned. */
  private[graft] def manifestColumnStats(v: Long)
      : Map[String, (String, String, Option[Long], Option[Long])] = {
    val m = manifest(v)
    StructType.fromDDL(m.schemaDdl).fields.flatMap { f =>
      m.stats.bounds.get(f.name).map { case (lo, hi) =>
        val phys = physNameOf(m, f.name)
        val nulls =
          if (m.files.forall(_.nulls.contains(phys)))
            Some(m.files.map(_.nulls(phys)).sum)
          else None
        // FilterEstimation refuses attributes without an ndv; for
        // INTEGRAL columns min(rowCount, value span) is the
        // uniformity-assumption estimate (exact manifests track no
        // ndv) — floats get min/max only and their conditions fall
        // back, never misestimate
        val ndv = f.dataType match {
          case IntegerType | LongType | ShortType | ByteType =>
            val span = (hi - lo + 1).toLong
            m.stats.rows.map(r => math.max(1L, math.min(r, span)))
          case _ => None
        }
        f.name -> ((lo.toString, hi.toString, nulls, ndv))
      }
    }.toMap
  }

  /** Overwrite preserving the CURRENT layout (bucketed or hive) — the
    * V2 writer's TRUNCATE-then-insert. */
  private[graft] def overwriteSameLayout(df: DataFrame): Long =
    latestVersion.map(manifest).flatMap(_.bucketSpec) match {
      case Some(spec) => overwriteBucketed(df, spec.cols, spec.n)
      case None       => overwrite(df, partitionColumns)
    }

  /** Dynamic partition overwrite (the Delta
    * `partitionOverwriteMode=dynamic` semantics): replace exactly the
    * hive partitions `df` touches — replaceWhere over the collected
    * partition tuples, bounded by touched-partition count. Flat and
    * bucketed layouts degenerate to a full overwrite (Spark's own
    * dynamic-mode behavior for unpartitioned tables). */
  private[graft] def overwriteDynamic(df: DataFrame): Long = {
    val parts = partitionColumns
    if (parts.isEmpty) overwriteSameLayout(df)
    else {
      import org.apache.spark.sql.functions.lit
      val touched = df.select(parts.map(col): _*).distinct().collect()
      if (touched.isEmpty) latestVersion.getOrElse(0L)
      else {
        val cond = touched.map { r =>
          parts.zipWithIndex
            .map { case (p, i) => col(s"`$p`") === lit(r.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _)
        replaceWhere(df, cond)
      }
    }
  }

  /** Root-relative data-file path extracted from `_metadata.file_path`
    * — the SAME expression computes the DV file's path column at
    * delete time and the probe column at read time, so the anti-join
    * key matches by construction (no URI-scheme normalization to get
    * wrong, and relative paths keep the table relocatable). Primary
    * form: strip this table's qualified root-URI prefix — both sides
    * derive from the same Path/URI machinery, so the (URL-encoded)
    * remainder matches raw-for-raw, and it covers files ANYWHERE
    * under the root (engine-written `data/...` files AND zero-copy
    * Delta-converted files at arbitrary relative paths). Fallback for
    * a file_path that doesn't carry the prefix (e.g. a symlinked
    * mount spelling): the legacy last-`/data/`-segment extraction,
    * which yields exactly the same key for engine-written layouts —
    * so DV sidecars written by either generation keep matching. */
  private def relDataPath: Column = {
    val prefix = UriKeys.sparkPathKey(fs.makeQualified(root))
      .stripSuffix("/") + "/"
    org.apache.spark.sql.functions.when(
        col("_metadata.file_path").startsWith(prefix),
        col("_metadata.file_path").substr(
          org.apache.spark.sql.functions.lit(prefix.length + 1),
          org.apache.spark.sql.functions.lit(Int.MaxValue)))
      .otherwise(org.apache.spark.sql.functions.regexp_extract(
        col("_metadata.file_path"), "^.*/(data/.*)$", 1))
  }

  /** The key [[relDataPath]] computes for a manifest entry's (decoded)
    * relative path — the DRIVER side of the same extraction: qualify,
    * re-encode, strip the qualified root. Lets zero-copy imports write
    * DV sidecars whose keys match the read-time probe by
    * construction. */
  private def encodedRelPath(relPath: String): String = {
    val prefix = UriKeys.sparkPathKey(fs.makeQualified(root))
      .stripSuffix("/") + "/"
    val full = UriKeys.sparkPathKey(fs.makeQualified(new Path(root, relPath)))
    require(full.startsWith(prefix),
      s"$root: $relPath does not qualify under the table root")
    full.substring(prefix.length)
  }

  // ---- column mapping -----------------------------------------------------
  // Physical parquet column names are FROZEN at column birth; RENAME/
  // DROP/ADD COLUMN are metadata-only commits that edit the snapshot's
  // logical schema + colMap. Everything internal (data files, manifest
  // stats/bloom keys) stays keyed by PHYSICAL name; translation happens
  // at exactly two choke points — readEntriesTagged (physical read →
  // logical rename) and writeDataFiles (logical frame → physical
  // rename) — plus the stat-lookup sites, which map a queried logical
  // column to its physical stats key.

  /** Physical stats/parquet name of logical column `name` in snapshot
    * `m` (identity when never renamed). */
  private def physNameOf(m: Manifest, name: String): String =
    m.colMap.getOrElse(name, name)

  /** The snapshot's PHYSICAL read schema: logical fields renamed to
    * their parquet names. */
  private def physSchemaOf(m: Manifest): StructType = {
    val logical = StructType.fromDDL(m.schemaDdl)
    if (m.colMap.isEmpty) logical
    else StructType(logical.fields.map(f =>
      f.copy(name = m.colMap.getOrElse(f.name, f.name))).toSeq)
  }

  /** Rename columns by map in ONE projection (a `withColumnRenamed`
    * chain could collide mid-chain on swap-shaped maps); columns not
    * in the map — plumbing, `_change_type` — pass through. */
  private def renameByMap(df: DataFrame, map: Map[String, String]): DataFrame =
    if (map.isEmpty || !df.columns.exists(map.contains)) df
    else df.select(df.columns.map(c =>
      map.get(c).map(t => col(s"`$c`").as(t)).getOrElse(col(s"`$c`"))).toIndexedSeq: _*)

  /** Physical frame → logical names (the read boundary). */
  private def toLogicalDf(df: DataFrame, m: Manifest): DataFrame =
    renameByMap(df, m.colMap.map(_.swap))

  /** Logical frame → physical names (the write boundary). */
  private def toPhysicalDf(df: DataFrame, m: Manifest): DataFrame =
    renameByMap(df, m.colMap)

  private def readEntries(m: Manifest, entries: Seq[FileEntry]): DataFrame =
    readEntriesTagged(m, entries, None)

  /** [[readEntries]], optionally tagging every row with its source
    * file's full metadata path (`tag`) — the discovery surface for
    * predicate DML, which cannot use `input_file_name()` because a
    * deletion-vector read is a multi-source plan (scan ⋈ DV). */
  private def readEntriesTagged(m: Manifest, entries: Seq[FileEntry],
      tag: Option[String]): DataFrame = {
    // data files carry PHYSICAL column names; the frame surfaces
    // LOGICAL ones (renamed below, after the DV plumbing resolves)
    val schema = physSchemaOf(m)
    val (dved, plain) = entries.partition(_.dvPath.isDefined)
    def scan(es: Seq[FileEntry]) = {
      val df = spark.read.schema(schema)
        .parquet(es.map(f => new Path(root, f.path).toString): _*)
      tag.fold(df)(c => df.withColumn(c, col("_metadata.file_path")))
    }
    val tagType = org.apache.spark.sql.types.StructField(
      tag.getOrElse(""), StringType)
    // the empty frame never touches parquet — logical names directly
    val logicalSchema = StructType.fromDDL(m.schemaDdl)
    val emptySchema =
      if (tag.isEmpty) logicalSchema
      else StructType(logicalSchema.fields :+ tagType)
    val df0 =
      if (entries.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)
      else if (dved.isEmpty) scan(plain)
      else {
        // merge-on-read: rows listed in the entries' deletion vectors
        // are excluded by a broadcast anti-join on (file, position) —
        // DV cardinality is the number of DELETED rows, model-sized
        // next to the data. Files without a DV take the plain path
        // (zero overhead); [[dvPairs]] scopes each file to ITS OWN
        // sidecar, so stale positions in an older shared sidecar (a
        // restore re-pinned the file to a smaller vector) cannot
        // re-hide restored rows.
        val dv = dvPairs(dved).get
        val kept = scan(dved)
          .withColumn(DvPathCol, relDataPath)
          .withColumn(DvPosCol, col("_metadata.row_index"))
          .join(org.apache.spark.sql.functions.broadcast(dv),
            Seq(DvPathCol, DvPosCol), "left_anti")
          .drop(DvPathCol, DvPosCol)
        if (plain.isEmpty) kept else kept.unionByName(scan(plain))
      }
    // shadow layout columns (should never surface — explicit schema +
    // leaf-file paths) and the bucket column are plumbing, not data
    val logical = toLogicalDf(df0, m)
    val df = logical.drop(
      logical.columns.filter(_.startsWith(PartShadowPrefix)): _*)
    if (m.bucketSpec.isDefined) df.drop(BucketCol) else df
  }

  /** Log entry `v` for a change-feed read. Retention interacts with
    * change feeds: an expired log entry in the polled range is the
    * same invalidation as a rewrite — always surface the reset signal,
    * never a raw missing-file error (the read itself races concurrent
    * expiry, so the catch — not a pre-scan — is what makes the
    * contract airtight). */
  private def entryOrReset(v: Long): CommitDelta =
    try logEntry(v)
    catch { case _: IllegalArgumentException => sys.error(
      s"$root version $v expired (snapshot retention) — " +
        "reset the change-feed consumer from a full snapshot read")
    }

  /** Rows ADDED after snapshot `fromVersion` up to `toVersion`
    * (default latest) — the incremental-consumption surface (change
    * feed): a downstream job checkpoints the version it has seen and
    * reads only the NEW files on each poll, never rescanning the
    * table. Exact precisely when every intervening commit is
    * file-additive (append); overwrite/merge/delete/compact rewrite
    * files, so the file diff is not a row diff — refused with the
    * offending operation named (resume past it by re-reading the full
    * snapshot, the standard change-feed reset). */
  def changesSince(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(latestVersion).getOrElse(
      sys.error(s"$root has no committed snapshots"))
    require(to >= fromVersion, s"$root: changesSince($fromVersion) > latest $to")
    // the polled range reads ONLY the deltas: each append's change set
    // IS its add list, so the scan is O(files appended), never
    // O(table) — no snapshot reconstruction at all on the happy path.
    // COMPACT commits are dataChange=false (byte-identical rows in new
    // files) and are SKIPPED — a consumer must survive routine table
    // maintenance; the skipped-over pre-compact appended files stay
    // readable until their own log entries expire. Stops at the first
    // genuine rewrite (fail-fast before reading more).
    val adds = Seq.newBuilder[FileEntry]
    var k = fromVersion + 1
    while (k <= to) {
      val d = entryOrReset(k)
      if (d.operation != OpCompact) {
        if (d.operation != OpAppend) sys.error(
          s"$root version $k is '${d.operation}', not append — " +
            "file diff is not a row diff; reset the change-feed consumer " +
            "from a full snapshot read")
        adds ++= d.add
      }
      k += 1
    }
    val files = adds.result()
    // header (schema/bucket spec) from the newest entry in range —
    // appends never change layout; empty range reads the snapshot
    // header (cache-friendly, no file scan: the entry list is empty)
    val d = entryOrReset(to)
    readEntries(Manifest(d.version, d.operation, d.schemaDdl, files,
      d.partitionCols, d.bucketSpec, colMap = d.colMap, retired = d.retired),
      files)
  }

  /** ROW-level change feed over `(fromVersion, toVersion]`: every
    * change as a row tagged [[TxTable.ChangeTypeCol]] (insert |
    * update_preimage | update_postimage | delete) and
    * [[TxTable.CommitVersionCol]] — the Delta CDF read surface, and
    * the upgrade of [[changesSince]] that survives rewrites. Appends
    * serve their added files as inserts (zero extra storage);
    * merge/delete commits written through a `changeDataFeed = true`
    * handle serve the CDC files their delta recorded (cost already
    * paid, ∝ touched buckets); [[compact]]/[[compactZOrder]] rewrite
    * identical rows and contribute NO change rows (the dataChange =
    * false discipline). A rewrite committed WITHOUT CDC recording
    * (overwrite, or a merge through a non-CDF handle) still resets
    * the consumer — row changes were never captured and cannot be
    * reconstructed from the file diff. */
  def changeFeed(fromVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val to = toVersion.orElse(latestVersion).getOrElse(
      sys.error(s"$root has no committed snapshots"))
    require(to >= fromVersion, s"$root: changeFeed($fromVersion) > latest $to")
    val parts: Seq[DataFrame] =
      (fromVersion + 1 to to).iterator.flatMap { v =>
        entryOrReset(v) match {
          case d if d.operation == OpAppend =>
            if (d.add.isEmpty) None
            else Some(readEntries(
                Manifest(d.version, d.operation, d.schemaDdl, d.add,
                  d.partitionCols, d.bucketSpec, colMap = d.colMap,
                  retired = d.retired), d.add)
              .withColumn(ChangeTypeCol, lit("insert"))
              .withColumn(CommitVersionCol, lit(v)))
          case d if d.operation == OpCompact =>
            None // a compact rewrites byte-identical rows: no data change
          case d if d.cdc.isDefined =>
            val files = d.cdc.get
            if (files.isEmpty) None // CDF commit that changed nothing
            else {
              // CDC files carry the commit's PHYSICAL column names
              // (written through the same boundary as data files) —
              // read physically, rename with the commit's own mapping
              val base = StructType.fromDDL(d.schemaDdl).fields
                .filterNot(_.name == BucketCol)
                .map(f => f.copy(name = d.colMap.getOrElse(f.name, f.name)))
              val schema = StructType(base.toSeq :+
                org.apache.spark.sql.types.StructField(ChangeTypeCol, StringType))
              Some(renameByMap(spark.read.schema(schema)
                  .parquet(files.map(f => new Path(root, f.path).toString): _*),
                  d.colMap.map(_.swap))
                .withColumn(CommitVersionCol, lit(v)))
            }
          case d =>
            sys.error(s"$root version $v is '${d.operation}' with no " +
              "recorded change files — row changes were not captured (write through a " +
              "changeDataFeed=true handle); reset the change-feed " +
              "consumer from a full snapshot read")
        }
      }.toSeq
    if (parts.isEmpty) {
      val m = manifest(to)
      readEntries(m, Nil)
        .withColumn(ChangeTypeCol, lit(null: String).cast(StringType))
        .withColumn(CommitVersionCol, lit(0L))
    } else parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  // ---- writes -------------------------------------------------------------

  /** Replace the table contents atomically. Readers of older snapshots
    * are unaffected until [[expireSnapshots]] + [[vacuum]].
    * `partitionBy` lays files out in Hive-style partition dirs whose
    * values the manifest records per file (see class doc). */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    val mapAtWrite = currentColMap
    val (files, schema) = writeDataFiles(df, partitionBy)
    commit { latest =>
      latest.foreach(m => requireCompatible(
        StructType.fromDDL(m.schemaDdl), schema, allowNew = true))
      latest.foreach(m => requireFreshNamesAddressable(m, schema))
      requireMappingStable(latest, mapAtWrite, "overwrite")
      Pending(OpOverwrite, mergedDdl(latest, schema), partitionBy,
        latest.flatMap(_.bucketSpec).filter(_ => partitionBy == Seq(BucketCol)),
        txn, files, livePaths(latest))
    }
  }

  /** The live snapshot's column mapping — what [[writeDataFiles]] will
    * physicalize against right now. */
  private def currentColMap: Map[String, String] =
    latestVersion.map(manifest(_).colMap).getOrElse(Map.empty)

  /** Data files already written with `mapAtWrite` must not commit under
    * a DIFFERENT mapping (a racing ALTER COLUMN between write and
    * commit would leave them carrying stale physical names — reads
    * would silently null-backfill the renamed column). */
  private def requireMappingStable(latest: Option[Manifest],
      mapAtWrite: Map[String, String], op: String): Unit =
    require(latest.map(_.colMap).getOrElse(Map.empty) == mapAtWrite,
      s"concurrent column rename/drop during $op to $root — retry $op")

  /** Replace the table with a KEY-BUCKETED layout: rows are hashed on
    * `bucketCols` into `nBuckets` partitions so that [[merge]] /
    * [[upsert]] can rewrite only the buckets a source batch touches.
    * The bucket spec is recorded in the manifest and maintained by
    * every subsequent append/merge/compact. */
  def overwriteBucketed(df: DataFrame, bucketCols: Seq[String], nBuckets: Int,
      txn: Option[(String, Long)] = None): Long = {
    require(bucketCols.nonEmpty && nBuckets > 0, "bucketCols and nBuckets required")
    val spec = BucketSpec(bucketCols, nBuckets)
    val mapAtWrite = currentColMap
    val (files, schema) = writeDataFiles(bucketedWriteFrame(df, spec), Seq(BucketCol))
    commit { latest =>
      requireMappingStable(latest, mapAtWrite, "overwriteBucketed")
      Pending(OpOverwrite, schemaDdlOf(schema), Seq(BucketCol),
        Some(spec), txn, files, livePaths(latest))
    }
  }

  /** Append rows; NEW columns widen the schema (nullable), existing
    * columns must keep their types. Partitioned/bucketed tables keep
    * their layout: appended files land in the same partition scheme. */
  def append(df: DataFrame, txn: Option[(String, Long)] = None): Long = {
    // layout must match the CURRENT snapshot; resolve it up front (a
    // racing layout change makes the commit loop recompose, and the
    // require below re-checks against the new latest)
    val current = latestVersion.map(manifest)
    val spec = current.flatMap(_.bucketSpec)
    val parts = current.map(_.partitionCols).getOrElse(Nil)
    val mapAtWrite = current.map(_.colMap).getOrElse(Map.empty)
    val data = spec.map(bucketedWriteFrame(df, _)).getOrElse(df)
    val (files, schema) = writeDataFiles(data, parts)
    commit { latest =>
      latest.foreach(m => requireCompatible(
        StructType.fromDDL(m.schemaDdl), schema, allowNew = true))
      latest.foreach(m => requireFreshNamesAddressable(m, schema))
      requireMappingStable(latest, mapAtWrite, "append")
      require(latest.map(_.partitionCols).getOrElse(Nil) == parts &&
          latest.flatMap(_.bucketSpec) == spec,
        s"concurrent layout change during append to $root — retry append")
      Pending(OpAppend, mergedDdl(latest, schema), parts, spec, txn, files)
    }
  } match { case v => maybeAutoCompact(); v }

  /** Post-append auto-compaction (the Delta `autoOptimize.autoCompact`
    * discipline as the `graft.autoCompact` table property): when the
    * snapshot has accumulated ≥ [[TxTable.AutoCompactMinFiles]]
    * small files, fold them with [[compactSmall]] right after the
    * append commits. BEST-EFFORT by contract — the append has already
    * committed, so a compaction failure (e.g. losing a commit race)
    * must never surface to the writer; the debt just waits for the
    * next append or a manual OPTIMIZE. The compact is its own
    * dataChange=false commit, so change feeds skip it. */
  private def maybeAutoCompact(): Unit =
    try latestVersion.foreach { v =>
      val m = manifest(v)
      if (boolProp(m, TxTable.PropAutoCompact).getOrElse(false)) {
        val small = m.files.count(f =>
          fileBytes(f) < DefaultTargetFileBytes / 2 || f.dvPath.isDefined)
        if (small >= TxTable.AutoCompactMinFiles) {
          compactSmall(minFiles = TxTable.AutoCompactMinFiles); ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Row-level MERGE, copy-on-write at file granularity, on any
    * layout. `resolve` receives (existing rows of the AFFECTED files
    * only, source rows) and returns their new contents; every other
    * file is carried into the new snapshot by reference, never read or
    * rewritten. Cost ∝ |source| + |rows in affected files|. A bucketed
    * table ([[overwriteBucketed]]) plans by bucket: the files of the
    * buckets the source touches are affected. A flat or
    * hive-partitioned table names its ON equi-key columns in `keys`
    * and plans by file ([[planFiles]]).
    *
    * Concurrency: the merge composes against the snapshot current at
    * its start; a racing commit auto-rebases or refuses with "rerun"
    * by the row-level rule of [[commitRowLevel]]. */
  def merge(source: DataFrame, txn: Option[(String, Long)] = None,
      sourceIsPinned: Boolean = false, keys: Seq[String] = Nil,
      /** Skip the discovery job and treat EVERY file as affected — a
        * correct superset plan (an unmatched file rewrites
        * row-identical). Worth it when the caller knows each source
        * batch spans the keyspace (state-table upserts): the discovery
        * job + its planning gap is pure overhead. */
      touchAllBuckets: Boolean = false)(
      resolve: (DataFrame, DataFrame) => DataFrame): Long = {
    require(keys.nonEmpty ||
        latestVersion.map(manifest).flatMap(_.bucketSpec).isDefined,
      s"$root is not bucketed — merge needs explicit key columns " +
        "(keys = ...) for file-granular planning")
    mergeOp(OpMerge, source, keys, txn, sourceIsPinned,
      touchAll = touchAllBuckets)(resolve)
  }

  /** The copy-on-write merge core behind [[merge]], [[upsert]],
    * [[mergeClauses]] and [[deleteKeys]]: pin the source once
    * ([[pinSource]]), plan the affected files by layout
    * ([[planBuckets]] or [[planFiles]]), resolve their rows against
    * the source, rewrite them in the table's layout, capture CDC and
    * commit through [[commitRowLevel]]. `keys` are the ON columns of a
    * non-bucketed table (a bucketed one keys on its bucket columns);
    * `touchAll` makes every file affected. */
  private def mergeOp(op: String, source: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)], sourceIsPinned: Boolean = false,
      checkSourceSchema: Boolean = true, touchAll: Boolean = false)(
      resolve: (DataFrame, DataFrame) => DataFrame): Long = {
    val m = manifest(latestVersion.getOrElse(
      sys.error(s"$root: merge needs an existing table")))
    val schema = StructType.fromDDL(m.schemaDdl)
    // clause merges ([[mergeClauses]]) feed a source whose payload
    // columns are deliberately NOT table columns (prefixed namespace);
    // their key columns carry the table names, which is all planning
    // needs.
    // schema evolution (the reference's schema.autoMerge.enabled,
    // resources/spark.py:68-69, as a TABLE property): a source with
    // NEW columns widens the table schema at commit; files the merge
    // did not rewrite lack the column and null-backfill on read (the
    // append-widening machinery). Off = the strict refusal below.
    val autoMerge = boolProp(m, TxTable.PropSchemaAutoMerge).getOrElse(false)
    if (checkSourceSchema)
      requireCompatible(schema, source.schema, allowNew = autoMerge)
    val keyNames = m.bucketSpec.map(_.cols).getOrElse(keys.map(k =>
      schema.fields.find(_.name.equalsIgnoreCase(k))
        .getOrElse(sys.error(s"$root has no merge key column $k")).name))
    val (src, observed) = pinSource(source, m.bucketSpec, sourceIsPinned)
    try {
      val (affected, mayMatch) = m.bucketSpec match {
        case Some(_) => planBuckets(m, src, observed, touchAll)
        case None    => planFiles(m, keyNames, src, touchAll)
      }
      val existing = readEntries(m, affected)
      val resolved = resolve(existing, src.drop(BucketCol))
      val (files, outSchema) = writeDataFiles(
        m.bucketSpec.map(bucketedWriteFrame(resolved, _)).getOrElse(resolved),
        m.partitionCols)
      requireRewriteSchema(op, m, outSchema, allowNew = autoMerge)
      // change-data-feed: row-level diff of the affected files,
      // computed against the files JUST WRITTEN (single resolver
      // evaluation — the written data is the truth), classified by the
      // merge keys into pre/post images vs pure inserts/deletes, and
      // landed as CDC files the commit's delta records. Cost ∝ affected
      // files, like the merge itself; rows the merge left
      // byte-identical produce NO change rows (exceptAll drops them).
      val cdcFiles: Option[Seq[FileEntry]] =
        if (!effCdf(m)) None
        else Some {
          import org.apache.spark.sql.functions.lit
          val rewritten = readEntries(m, files)
          // materialize the two diffs ONCE (change-sized): four join
          // branches below would otherwise re-evaluate each exceptAll
          // subtree — re-reading the affected files per branch (the
          // dominant cost of a CDC-enabled merge commit, measured 6.1s
          // vs 1.0s stats-off at sf0.1 before this checkpoint)
          val del = Pins.pin(existing.exceptAll(rewritten))
          val ins = Pins.pin(rewritten.exceptAll(existing))
          val delK = del.select(keyNames.map(col): _*).distinct()
          val insK = ins.select(keyNames.map(col): _*).distinct()
          val changes = del.join(insK, keyNames, "left_semi")
            .withColumn(ChangeTypeCol, lit("update_preimage"))
            .unionByName(del.join(insK, keyNames, "left_anti")
              .withColumn(ChangeTypeCol, lit("delete")))
            .unionByName(ins.join(delK, keyNames, "left_semi")
              .withColumn(ChangeTypeCol, lit("update_postimage")))
            .unionByName(ins.join(delK, keyNames, "left_anti")
              .withColumn(ChangeTypeCol, lit("insert")))
          try writeDataFiles(changes, Nil, withStats = false, enforce = false)._1
          finally Pins.release(del, ins)
        }
      val ddl = if (autoMerge) mergedDdl(Some(m), outSchema) else m.schemaDdl
      commitRowLevel(op, m, affected, files, ddl, txn, cdcFiles, mayMatch)
    } finally { if (!sourceIsPinned) Pins.release(src) }
  }

  /** Pin ONE evaluation of a row-level source ([[Pins.pin]], the
    * probeSignatureIndex discipline): it feeds planning AND the
    * resolve — a non-deterministic source re-evaluated between the two
    * could hash a key into a bucket the plan didn't rewrite, silently
    * breaking replace-by-key. On a bucketed table (`spec`) the source
    * gains its bucket column and the touched-bucket set rides the
    * checkpoint job as an observed metric — ONE driver-side job before
    * the write, not two. `sourceIsPinned` callers (foreachBatch
    * microbatches: already materialized, offset-pinned, deterministic
    * by the replay contract) skip the checkpoint — one fewer full
    * write of the batch per commit. Returns (source, observed touched
    * buckets). */
  private def pinSource(source: DataFrame, spec: Option[BucketSpec],
      sourceIsPinned: Boolean): (DataFrame, Option[Set[String]]) = {
    val routed = spec.fold(source)(withBucket(source, _))
    if (sourceIsPinned) (routed, None)
    else if (spec.isEmpty) (Pins.pin(routed), None)
    else {
      val obs = org.apache.spark.sql.Observation()
      val ckpt = Pins.pin(routed
        .observe(obs, org.apache.spark.sql.functions
          .collect_set(col(BucketCol)).as("touched")))
      (ckpt, Some(obs.get("touched").asInstanceOf[Seq[Int]]
        .map(_.toString).toSet))
    }
  }

  /** Bucket planner of [[mergeOp]] and [[morUpsertBucketed]]: the
    * files of the buckets a [[pinSource]]-routed source touches are
    * affected, and a file a racing commit adds may match iff it lands
    * in one of them. The touched set is the observed one, else one
    * distinct collect — bounded by nBuckets, a model-sized driver list
    * (the c10/probe-id discipline). `touchAll` (WHEN NOT MATCHED BY
    * SOURCE semantics, or batches spanning the keyspace) reads and
    * rewrites the whole table — the documented price of a by-source
    * clause, exactly Delta's. Returns (affected entries, may-match
    * test). */
  private def planBuckets(m: Manifest, src: DataFrame,
      observed: Option[Set[String]], touchAll: Boolean)
      : (Seq[FileEntry], FileEntry => Boolean) =
    if (touchAll) (m.files, _ => true)
    else {
      val touched = observed.getOrElse(src.select(col(BucketCol)).distinct()
        .collect().map(_.getInt(0).toString).toSet)
      val inTouched = (f: FileEntry) =>
        f.partition.get(BucketCol).exists(touched)
      (m.files.filter(inTouched), inTouched)
    }

  /** File planner of [[mergeOp]] for a flat or hive-partitioned table
    * (Delta's own merge shape for unclustered tables — the reference
    * merges into any Delta layout, `resources/spark.py:65-67`),
    * narrowing in two sound steps:
    *
    *  1. ONE bounded aggregation over the pinned source collects, per
    *     key column, min/max and an approximate distinct count; small
    *     key sets re-collect exactly and become IN-list constraints
    *     (which probe per-file Bloom filters), larger ones degrade to
    *     [min,max] zone-map ranges. A file failing this candidate test
    *     provably holds no source key — which makes it the may-match
    *     test for files a racing commit adds too.
    *  2. ONE discovery scan ([[filesHolding]]) semi-joins the
    *     candidates with the distinct source keys — only files
    *     ACTUALLY holding matching rows become affected (parquet
    *     row-group pushdown serves it).
    *
    * `touchAll` affects every file. Returns (affected entries,
    * may-match test). */
  private def planFiles(m: Manifest, keys: Seq[String], src: DataFrame,
      touchAll: Boolean): (Seq[FileEntry], FileEntry => Boolean) = {
    if (touchAll) return (m.files, _ => true)
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
    import org.apache.spark.sql.functions.{
      approx_count_distinct, max => fmax, min => fmin}
    val schema = StructType.fromDDL(m.schemaDdl)
    val keyFields = keys.map(schema(_))
    val aggs = keyFields.flatMap { f => Seq(
      fmin(col(s"`${f.name}`")).as(s"mn_${f.name}"),
      fmax(col(s"`${f.name}`")).as(s"mx_${f.name}"),
      approx_count_distinct(col(s"`${f.name}`")).as(s"nd_${f.name}")) }
    val row = src.agg(aggs.head, aggs.tail: _*).head()
    // a key whose source values are ALL null (or an empty source)
    // matches nothing — no file is a candidate, the merge reduces to
    // its pure-insert branch
    val candidate: FileEntry => Boolean =
      if (keyFields.exists(f => row.getAs[Any](s"mn_${f.name}") == null))
        _ => false
      else {
        val preds = keyFields.flatMap { f =>
          val attr = AttributeReference(f.name, f.dataType)()
          val smallSet: Option[Seq[Any]] =
            if (row.getAs[Long](s"nd_${f.name}") > TxTable.MergeInListCap)
              None
            else {
              val vs = src.select(col(s"`${f.name}`"))
                .where(col(s"`${f.name}`").isNotNull).distinct()
                .limit(TxTable.MergeInListCap + 1)
                .collect().map(_.get(0)).toSeq
              if (vs.size > TxTable.MergeInListCap) None else Some(vs)
            }
          smallSet match {
            case Some(vs) =>
              Seq(In(attr, vs.map(x => Literal.create(x, f.dataType))))
            case None => Seq(
              GreaterThanOrEqual(attr,
                Literal.create(row.getAs[Any](s"mn_${f.name}"), f.dataType)),
              LessThanOrEqual(attr,
                Literal.create(row.getAs[Any](s"mx_${f.name}"), f.dataType)))
          }
        }
        candidateFilter(schema, preds, physNameOf(m, _))
      }
    val keyFrame = src.select(keys.map(k => col(s"`$k`")): _*).distinct()
    (filesHolding(m, m.files.filter(candidate))(
      _.join(keyFrame, keys, "left_semi")), candidate)
  }

  /** MERGE INTO t USING source ON keys WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT * — source rows replace same-key
    * rows, new keys insert; source must be unique per key. Bucketed
    * tables rewrite only the buckets containing source keys;
    * non-bucketed tables pass the ON key columns via `keys` and
    * rewrite only the FILES containing source keys (zone-map/Bloom
    * planned, [[planFiles]]). */
  def upsert(source: DataFrame, txn: Option[(String, Long)] = None,
      sourceIsPinned: Boolean = false, keys: Seq[String] = Nil): Long = {
    val spec = latestVersion.map(manifest).flatMap(_.bucketSpec)
    val onKeys = spec.map(_.cols).getOrElse {
      require(keys.nonEmpty,
        s"$root is not bucketed — upsert needs explicit key columns " +
          "(keys = ...)")
      keys
    }
    val resolve: (DataFrame, DataFrame) => DataFrame = { (existing, src) =>
      // allowMissingColumns: under schemaAutoMerge a widened source's
      // new column null-backfills the kept rows (and a subset source
      // null-fills its own missing columns, the append discipline)
      existing.join(src.select(onKeys.map(col): _*).distinct(),
          onKeys, "left_anti")
        .unionByName(src, allowMissingColumns = true)
    }
    // deletionVectors handles upsert a bucketed table MERGE-ON-READ:
    // matched rows fold into a DV, the source appends — O(batch)
    // writes, the streaming state-table path (see [[morUpsertBucketed]])
    if (spec.isDefined &&
        latestVersion.map(v => effDv(manifest(v))).getOrElse(deletionVectors))
      morUpsertBucketed(source, manifest(latestVersion.get), txn,
        sourceIsPinned)
    else mergeOp(OpMerge, source, onKeys, txn, sourceIsPinned)(resolve)
  }

  /** Full-clause MERGE — the complete `MERGE INTO t USING s ON keys
    * WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN ...` surface,
    * executed as ONE full-outer join over the touched buckets with
    * per-row first-true-clause action selection (the Delta execution
    * shape). Conventions:
    *
    *   - `sourceKeys`: for each table bucket key, the SOURCE
    *     expression it equates to (the ON conjuncts) — routing hashes
    *     these, so only buckets holding source keys are read unless a
    *     by-source clause forces the whole table.
    *   - In clause conditions / assignment values, TARGET columns are
    *     referenced by their plain names and SOURCE columns as
    *     [[TxTable.srcCol]]`(name)` (internally a prefixed
    *     namespace, so same-named columns never collide).
    *   - Clauses evaluate in the given order; the FIRST one whose
    *     condition holds applies; no applicable clause keeps the
    *     target row (matched / by-source) or drops the source row
    *     (not matched). NULL conditions count false.
    *   - Matched/by-source UPDATE assignments may not touch bucket
    *     keys (rows would re-route into buckets the plan never read —
    *     use [[updateWhere]] for relocations). Multiple source rows
    *     matching one target row raise at execution (ambiguous merge,
    *     the SQL rule).
    *
    * CDC through a `changeDataFeed=true` handle and auto-rebase on
    * racing commits are inherited from the merge core. */
  def mergeClauses(source: DataFrame,
      sourceKeys: Map[String, Column],
      matched: Seq[TxTable.MergeClause] = Nil,
      notMatched: Seq[TxTable.MergeClause] = Nil,
      notMatchedBySource: Seq[TxTable.MergeClause] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    import TxTable.{MergeDelete, MergeInsert, MergeUpdate, SrcPrefix}
    import org.apache.spark.sql.functions.{coalesce, count => fcount, lit => flit, raise_error, when}
    val m = latestVersion.map(manifest).getOrElse(
      sys.error(s"$root: merge needs an existing table"))
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    // bucketed: the ON keys must cover the bucket keys (routing hashes
    // them). Non-bucketed: the ON conjuncts themselves define the join
    // keys — any table columns ([[planFiles]] plans by zone map)
    val keys = m.bucketSpec.map(_.cols).getOrElse(
      sourceKeys.keys.toSeq.map(k => tableSchema.fields
        .find(_.name.equalsIgnoreCase(k))
        .getOrElse(sys.error(s"$root has no ON key column $k")).name))
    val tableCols = tableSchema.fieldNames.filterNot(_ == BucketCol).toSeq
    require(keys.forall(k => sourceKeys.keys.exists(_.equalsIgnoreCase(k))),
      s"ON must equate every bucket key (${keys.mkString(", ")}) to a " +
        s"source expression — got ${sourceKeys.keys.mkString(", ")}")
    def srcExprOf(k: String): Column = sourceKeys.collectFirst {
      case (n, e) if n.equalsIgnoreCase(k) => e
    }.get
    matched.foreach {
      case MergeInsert(_, _) => sys.error("WHEN MATCHED takes UPDATE/DELETE")
      case MergeUpdate(_, set) => require(
        !set.keys.exists(k => keys.exists(_.equalsIgnoreCase(k))),
        "MERGE cannot update a bucket key column (rows would re-route " +
          "outside the planned buckets) — use updateWhere for relocations")
      case _ => ()
    }
    notMatched.foreach {
      case MergeInsert(_, _) => ()
      case _ => sys.error("WHEN NOT MATCHED takes INSERT only")
    }
    notMatchedBySource.foreach {
      case MergeInsert(_, _) =>
        sys.error("WHEN NOT MATCHED BY SOURCE takes UPDATE/DELETE")
      case MergeUpdate(_, set) => require(
        !set.keys.exists(k => keys.exists(_.equalsIgnoreCase(k))),
        "MERGE cannot update a bucket key column — use updateWhere")
      case _ => ()
    }
    // source payload moves into the prefixed namespace; the key
    // columns materialize UNDER TABLE NAMES from the ON expressions —
    // all the routing (withBucket) and the join below need
    val prefixed = source.columns.foldLeft(source)(
      (d, c) => d.withColumnRenamed(c, SrcPrefix + c))
    val keyed = keys.foldLeft(prefixed)(
      (d, k) => d.withColumn(k, srcExprOf(k)))
    val presT = "__t_present"; val presS = "__s_present"; val dupS = "__s_dup"
    val resolve: (DataFrame, DataFrame) => DataFrame = { (existing, src) =>
      val t = existing.withColumn(presT, flit(true))
      val s = src.withColumn(presS, flit(true))
        .withColumn(dupS, fcount(flit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*)))
      val j = t.join(s, keys.toSeq, "full_outer")
      val isM = col(presT).isNotNull && col(presS).isNotNull
      val isS = col(presT).isNull && col(presS).isNotNull
      val isT = col(presT).isNotNull && col(presS).isNull
      def condOf(cl: TxTable.MergeClause): Column =
        coalesce(cl.cond.getOrElse(flit(true)), flit(false))
      // first-true clause index per branch (-1 = none applies)
      def firstIdx(cls: Seq[TxTable.MergeClause]): Column =
        cls.zipWithIndex.foldRight(flit(-1): Column) {
          case ((cl, i), rest) => when(condOf(cl), flit(i)).otherwise(rest)
        }
      val mIdx = firstIdx(matched)
      val nIdx = firstIdx(notMatched)
      val bIdx = firstIdx(notMatchedBySource)
      def clauseValue(cl: TxTable.MergeClause, c: String): Column = cl match {
        case MergeUpdate(_, set) =>
          if (set.isEmpty) // UPDATE SET * = every column from source
            (if (keys.exists(_.equalsIgnoreCase(c))) col(c)
             else col(SrcPrefix + c))
          else set.collectFirst {
            case (k, v) if k.equalsIgnoreCase(c) => v
          }.getOrElse(col(c))
        case MergeInsert(_, values) =>
          if (values.isEmpty) col(SrcPrefix + c) // INSERT * = by name
          else values.collectFirst {
            case (k, v) if k.equalsIgnoreCase(c) => v
          }.getOrElse(flit(null).cast(tableSchema(c).dataType))
        case MergeDelete(_) => col(c) // value irrelevant: row drops
      }
      // drop decision; the matched branch FIRST enforces the SQL
      // cardinality rule — a target row matched by >1 source rows is
      // ambiguous the moment any matched clause applies, raised inside
      // the row evaluation itself (no extra pass, the Delta rule)
      val drop =
        when(isM,
          when(col(dupS) > 1 && mIdx =!= -1,
            raise_error(flit(s"MERGE into $root: a target row matches " +
              "more than one source row — deduplicate the source on " +
              "the keys")).cast("boolean"))
          .otherwise(matched.zipWithIndex.foldRight(flit(false): Column) {
            case ((cl, i), rest) => when(mIdx === i,
              flit(cl.isInstanceOf[MergeDelete])).otherwise(rest)
          }))
        .when(isS, nIdx === -1)
        .otherwise(notMatchedBySource.zipWithIndex
          .foldRight(flit(false): Column) {
            case ((cl, i), rest) => when(bIdx === i,
              flit(cl.isInstanceOf[MergeDelete])).otherwise(rest)
          })
      def valueOf(c: String): Column = {
        val keep = col(c)
        val mVal = matched.zipWithIndex.foldRight(keep) {
          case ((cl, i), rest) => when(mIdx === i, clauseValue(cl, c))
            .otherwise(rest)
        }
        val sVal = notMatched.zipWithIndex.foldRight(keep) {
          case ((cl, i), rest) => when(nIdx === i, clauseValue(cl, c))
            .otherwise(rest)
        }
        val bVal = notMatchedBySource.zipWithIndex.foldRight(keep) {
          case ((cl, i), rest) => when(bIdx === i, clauseValue(cl, c))
            .otherwise(rest)
        }
        // key columns exist coalesced on BOTH sides already; for the
        // insert branch the joined key IS the source key
        when(isM, mVal)
          .when(isS, if (keys.exists(_.equalsIgnoreCase(c))) keep else sVal)
          .otherwise(bVal).cast(tableSchema(c).dataType).as(c)
      }
      j.where(org.apache.spark.sql.functions.not(coalesce(drop, flit(false))))
        .select(tableCols.map(valueOf): _*)
    }
    mergeOp(OpMerge, keyed, keys, txn, checkSourceSchema = false,
      touchAll = notMatchedBySource.nonEmpty)(resolve)
  }

  /** Row-level DELETE by key (copy-on-write) — the GDPR/CDC surface:
    * `keys` holds the key columns of rows to remove; only buckets
    * containing those keys are read and rewritten, every other file
    * is carried by reference. DELETE FROM t WHERE key IN (...) at
    * file granularity. */
  def deleteKeys(keys: DataFrame, txn: Option[(String, Long)] = None,
      sourceIsPinned: Boolean = false, keyCols: Seq[String] = Nil): Long = {
    val spec = latestVersion.map(manifest).flatMap(_.bucketSpec)
    val cols = spec.map(_.cols).getOrElse {
      require(keyCols.nonEmpty,
        s"$root is not bucketed — deleteKeys needs explicit key " +
          "columns (keyCols = ...)")
      keyCols
    }
    val resolve: (DataFrame, DataFrame) => DataFrame = { (existing, src) =>
      existing.join(src.select(cols.map(col): _*).distinct(), cols, "left_anti")
    }
    mergeOp(OpDelete, keys, cols, txn, sourceIsPinned)(resolve)
  }

  /** Partition-level DELETE: drop every file whose partition values
    * match `pred` — a PURE METADATA commit (no data read, no data
    * written; the dropped files become vacuumable once their last
    * referencing snapshot expires). The cheapest possible retention
    * sweep: `DELETE FROM t WHERE pt = ...` in one manifest write.
    *
    * Through a `changeDataFeed=true` handle the deleted ROWS are
    * additionally captured as CDC delete records so [[changeFeed]]
    * consumers survive the commit — which necessarily reads and
    * rewrites the dropped partitions' data once (the Delta CDF
    * trade: row-level capture can't be metadata-only; use a non-CDF
    * handle when the feed may reset instead). */
  def deletePartitions(pred: Map[String, String] => Boolean,
      txn: Option[(String, Long)] = None): Long = {
    val m = latestManifest
    require(m.partitionCols.nonEmpty, s"$root is not partitioned")
    val dropped = m.files.filter(f => pred(f.partition))
    val cdcFiles: Option[Seq[FileEntry]] =
      if (!effCdf(m)) None
      else if (dropped.isEmpty) Some(Nil) // CDF commit that changed nothing
      else Some(writeDataFiles(
        readEntries(m, dropped).withColumn(ChangeTypeCol,
          org.apache.spark.sql.functions.lit("delete")),
        Nil, withStats = false, enforce = false)._1)
    // a racing commit rebases iff the dropped entries are unchanged (a
    // re-tag would make the CDC capture count its rows twice) and it
    // added nothing to a matching partition
    commitRowLevel(OpDelete, m, dropped, Nil, m.schemaDdl, txn, cdcFiles,
      f => pred(f.partition))
  }

  /** Row-level DELETE by PREDICATE, copy-on-write at file granularity
    * on ANY layout (flat, hive-partitioned, or bucketed) — the
    * `DELETE FROM t WHERE cond` surface. Planning in three narrowing
    * steps, each sound on its own: (1) the predicate's range conjuncts
    * prune CANDIDATE files against the manifest zone maps (partition
    * and bucket-layout columns participate for free — they are data
    * columns whose per-file stats are min=max=value); (2) ONE
    * discovery job over the candidates finds which files actually
    * hold matching rows (parquet row-group pushdown serves this scan);
    * (3) only those files are read back and rewritten without the
    * matching rows — every other file is carried by reference,
    * byte-identical. A predicate matching zero rows commits NOTHING
    * (no new version). Rows where `cond` evaluates NULL are kept
    * (SQL DELETE semantics).
    *
    * Through a `changeDataFeed=true` handle the deleted rows land as
    * CDC delete records in the commit delta. A racing commit
    * auto-rebases iff it provably could not change the result: same
    * schema/layout, none of the rewritten files touched, and no added
    * file passing the zone-map candidate test; anything else is a
    * loud conflict (rerun re-plans against the new snapshot). */
  def deleteWhere(cond: Column): Long =
    if (latestVersion.map(v => effDv(manifest(v))).getOrElse(deletionVectors))
      deleteWhereMoR(cond)
    else rewriteWhere(OpDelete, latestManifest, cond)(_.limit(0))

  /** Merge-on-read DELETE (the `deletionVectors=true` handle path):
    * the same three-step planning as the copy-on-write delete, but
    * instead of rewriting the affected files it lands ONE parquet
    * side-file of (data-file path, row position) pairs and re-tags the
    * affected entries to reference it — write cost O(matching rows),
    * never O(bytes of touched files). A file already carrying a DV
    * gets the accumulated union (its previously deleted positions are
    * excluded from the discovery scan, so they cannot re-enter). Reads
    * exclude DV rows via a broadcast anti-join (see readEntries);
    * compact/rewrites of a DV'd file purge its vector. CDF handles
    * capture the deleted rows exactly like the copy-on-write path.
    * Zero matches commit nothing. Concurrency: same auto-rebase rule
    * as the copy-on-write delete — a racing commit is harmless iff it
    * left the affected entries untouched and added nothing the
    * predicate's zone-map candidate test could match. */
  private def deleteWhereMoR(cond: Column): Long =
    morRewrite(OpDelete, cond, None)

  /** Merge-on-read UPDATE: the matching rows' positions land in the
    * vector exactly like [[deleteWhereMoR]] (hiding the pre-update
    * rows), and the SET-applied replacements append as NEW data files
    * (layout recomputed from the new values — relocation across
    * partitions/buckets works by construction). Write cost
    * O(matching rows), data files byte-identical. */
  private def updateWhereMoR(cond: Column, set: Map[String, Column]): Long =
    morRewrite(OpUpdate, cond, Some { matching =>
      val fields = matching.schema.fieldNames
        .filterNot(_.startsWith(PartShadowPrefix))
      val resolved = set.map { case (k, vcol) =>
        fields.find(_.equalsIgnoreCase(k)).getOrElse(
          sys.error(s"$root has no column $k to update")) -> vcol
      }
      // one select = simultaneous assignment (the SQL rule)
      matching.select(fields.filterNot(_ == BucketCol).map(n =>
        resolved.getOrElse(n, matching.col(s"`$n`")).as(n)).toIndexedSeq: _*)
    })

  /** Shared merge-on-read core: vector the matching rows' positions;
    * `replace` (None = DELETE) maps them to replacement rows appended
    * as new files. */
  private def morRewrite(op: String, cond: Column,
      replace: Option[DataFrame => DataFrame]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit => flit}
    val v = latestVersion.getOrElse(
      sys.error(s"$root has no committed snapshots"))
    val m = manifest(v)
    val schema = StructType.fromDDL(m.schemaDdl)
    val hit = coalesce(cond, flit(false)) // NULL predicate keeps the row
    val candidate = candidateFilter(schema,
      analyzedPredicate(schema, cond).toSeq, physNameOf(m, _))
    val candidates = m.files.filter(candidate)
    if (candidates.isEmpty) return v
    val matching = readPositionTagged(m, candidates).where(hit)
    val (affected, retagged) = vectorize(m, matching)
    if (affected.isEmpty) return v // zero matches: no commit at all
    // UPDATE: the SET-applied replacements append as new files with
    // the layout recomputed from the NEW values
    val cleanMatching = matching.drop(DvFileCol, DvPathCol, DvPosCol)
    val newFiles: Seq[FileEntry] = replace match {
      case None => Nil
      case Some(f) =>
        val replaced = f(cleanMatching.drop(BucketCol))
        requireRewriteSchema(op, m, replaced.schema, allowNew = false)
        val data = m.bucketSpec.map(withBucket(replaced, _)).getOrElse(replaced)
        writeDataFiles(data, m.partitionCols)._1
    }
    val cdcFiles: Option[Seq[FileEntry]] =
      if (!effCdf(m)) None
      else Some {
        val changes = replace match {
          case None => cleanMatching.drop(BucketCol)
            .withColumn(ChangeTypeCol, flit("delete"))
          case Some(_) =>
            val post = readEntries(
              Manifest(m.version, op, m.schemaDdl, Nil, m.partitionCols,
                m.bucketSpec, colMap = m.colMap, retired = m.retired),
              newFiles)
            cleanMatching.drop(BucketCol)
              .withColumn(ChangeTypeCol, flit("update_preimage"))
              .unionByName(post.withColumn(ChangeTypeCol,
                flit("update_postimage")))
        }
        writeDataFiles(changes, Nil, withStats = false, enforce = false)._1
      }
    commitRowLevel(op, m, affected, retagged ++ newFiles, m.schemaDdl, None,
      cdcFiles, candidate)
  }

  /** Merge-on-read UPSERT into a bucketed table — the
    * `deletionVectors=true` handle path of [[upsert]]: matched target
    * rows' positions land in ONE deletion vector (hiding them) and
    * the whole source appends as new bucket files. Write cost
    * O(|source| + matched rows), never O(bytes of touched buckets) —
    * the streaming state-table shape, where the copy-on-write upsert
    * rewrites near the whole table every microbatch (measured ~1 s
    * per small batch at sf0.1 against ~0.3 s here). DV'd entries keep
    * their bucket ids, so bucket-grouped reads and SPJ survive;
    * OPTIMIZE/compaction purges the vectors and the superseded rows.
    * CDC (CDF handles): hidden rows capture as update_preimage,
    * matched source rows as update_postimage, unmatched as insert.
    * A file a racing commit adds may match iff it lands in a touched
    * bucket ([[commitRowLevel]]). */
  private def morUpsertBucketed(source: DataFrame, m: Manifest,
      txn: Option[(String, Long)], sourceIsPinned: Boolean): Long = {
    import org.apache.spark.sql.functions.{lit => flit}
    val spec = m.bucketSpec.get
    val keys = spec.cols
    val autoMerge = boolProp(m, TxTable.PropSchemaAutoMerge).getOrElse(false)
    requireCompatible(StructType.fromDDL(m.schemaDdl), source.schema,
      allowNew = autoMerge)
    val (src, observed) = pinSource(source, m.bucketSpec, sourceIsPinned)
    try {
      val (read, inTouched) = planBuckets(m, src, observed, touchAll = false)
      // discovery over the touched buckets: only rows whose key the
      // source carries become DV entries
      val matching =
        if (read.isEmpty) None
        else Some(Pins.pin(readPositionTagged(m, read) // matched-rows-sized
          .join(src.select(keys.map(col): _*).distinct(), keys, "left_semi")))
      val (affected, retagged) = matching.fold(
        (Seq.empty[FileEntry], Seq.empty[FileEntry]))(vectorize(m, _))
      // the WHOLE source appends as new bucket files (batch-sized)
      val (newFiles, outSchema) =
        writeDataFiles(bucketedWriteFrame(src.drop(BucketCol), spec),
          Seq(BucketCol))
      requireCompatible(StructType.fromDDL(m.schemaDdl), outSchema,
        allowNew = autoMerge)
      if (autoMerge) requireFreshNamesAddressable(m, outSchema)
      val ddl = if (autoMerge) mergedDdl(Some(m), outSchema) else m.schemaDdl
      val cdcFiles: Option[Seq[FileEntry]] =
        if (!effCdf(m)) None
        else Some {
          val pre = matching.map(_.drop(DvFileCol, DvPathCol, DvPosCol,
            BucketCol).withColumn(ChangeTypeCol, flit("update_preimage")))
          val matchedKeys = matching.map(_.select(keys.map(col): _*).distinct())
          val post = readEntries(m, newFiles).drop(BucketCol)
          val postTagged = matchedKeys match {
            case None => post.withColumn(ChangeTypeCol, flit("insert"))
            case Some(mk) =>
              post.join(mk, keys, "left_semi")
                .withColumn(ChangeTypeCol, flit("update_postimage"))
                .unionByName(post.join(mk, keys, "left_anti")
                  .withColumn(ChangeTypeCol, flit("insert")))
          }
          val changes = pre.fold(postTagged)(p =>
            p.unionByName(postTagged))
          writeDataFiles(changes, Nil, withStats = false, enforce = false)._1
        }
      matching.foreach(Pins.release(_))
      commitRowLevel(OpMerge, m, affected, retagged ++ newFiles, ddl, txn,
        cdcFiles, inTouched)
    } finally { if (!sourceIsPinned) Pins.release(src) }
  }

  /** Row-level UPDATE by predicate — `UPDATE t SET col = expr, ...
    * WHERE cond`, copy-on-write exactly like [[deleteWhere]] (same
    * planning, same CDC capture as update_preimage/update_postimage
    * pairs, same auto-rebase). Every SET expression is evaluated
    * against the PRE-update row (simultaneous assignment, the SQL
    * rule), type changes are refused. Updating a hive-partition or
    * bucket-key column is allowed and relocates the row: rewritten
    * files re-shadow partition dirs from the new data values and the
    * bucket recomputes from the new key, so the layout invariants
    * hold by construction. */
  def updateWhere(cond: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    if (latestVersion.map(v => effDv(manifest(v))).getOrElse(deletionVectors))
      return updateWhereMoR(cond, set)
    rewriteWhere(OpUpdate, latestManifest, cond) { matching =>
      val fields = matching.schema.fieldNames
      val resolved = set.map { case (k, v) =>
        fields.find(_.equalsIgnoreCase(k)).getOrElse(
          sys.error(s"$root has no column $k to update")) -> v
      }
      // one select = simultaneous assignment: every RHS sees the
      // original row, regardless of SET order
      matching.select(fields.map(n =>
        resolved.getOrElse(n, matching.col(s"`$n`")).as(n)): _*)
    }
  }

  /** Selective overwrite (the Delta `replaceWhere`): atomically
    * delete every row matching `cond` and insert `source` — one
    * commit, so readers never see the in-between state. Every
    * incoming row is REQUIRED to satisfy the predicate (the Delta
    * rule: otherwise "replace partition X" could silently write into
    * partition Y); subset-schema sources null-fill like append, and
    * an omitted identity column mints. The source lands as its own
    * files in the table's layout — the ONE evaluation the predicate
    * guard, the commit and the CDC insert images all read. The
    * planning, zone-map candidate pruning, CDC capture (delete +
    * insert images), and auto-rebase all come from the shared
    * predicate-rewrite core. */
  def replaceWhere(source: DataFrame, cond: Column): Long = {
    val m = latestManifest
    requireCompatible(StructType.fromDDL(m.schemaDdl), source.schema,
      allowNew = false)
    rewriteWhere(OpReplace, m, cond, writeDataFiles(
      m.bucketSpec.map(bucketedWriteFrame(source, _)).getOrElse(source),
      m.partitionCols)._1)(_.limit(0))
  }

  private def latestManifest: Manifest =
    manifest(latestVersion.getOrElse(
      sys.error(s"$root has no committed snapshots")))

  /** Shared copy-on-write core of [[deleteWhere]], [[updateWhere]] and
    * [[replaceWhere]] (driver-side and native), planned against
    * snapshot `m`: `replaceMatching` maps the matching rows of the
    * affected files to their replacement (empty for delete, reassigned
    * for update); non-matching rows of those files are kept verbatim.
    * A replace lands the already-written `insert` entries in the same
    * commit, every row of which must satisfy `cond`. `insert` is
    * produced AFTER the survivor rewrite: a write that mints identity
    * values must be the last enforcing write before the commit, whose
    * concurrent-identity check reads that mint. The zone-map candidate
    * test that plans the rewrite is also its may-match test for files
    * a racing commit adds (a predicate with no extractable constraints
    * conservatively matches ANY added file). */
  private def rewriteWhere(op: String, m: Manifest, cond: Column,
      insert: => Seq[FileEntry] = Nil)(
      replaceMatching: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit => flit, not}
    val schema = StructType.fromDDL(m.schemaDdl)
    val hit = coalesce(cond, flit(false)) // NULL predicate keeps the row
    val candidate = candidateFilter(schema,
      analyzedPredicate(schema, cond).toSeq, physNameOf(m, _))
    val affected = filesHolding(m, m.files.filter(candidate))(_.where(hit))
    // zero matches: no commit at all — unless this is a replace,
    // which must still land its rows
    if (affected.isEmpty && op != OpReplace) return m.version
    val existing = readEntries(m, affected)
    val matching = existing.where(hit)
    val replaced = replaceMatching(matching)
    requireRewriteSchema(op, m, replaced.schema, allowNew = false)
    val files =
      if (affected.isEmpty) Nil
      else {
        val newRows = existing.where(not(hit)).unionByName(replaced)
        writeDataFiles(m.bucketSpec.map(bucketedWriteFrame(newRows, _))
          .getOrElse(newRows), m.partitionCols)._1
      }
    val inserted = insert
    val insertedRows = readEntries(m, inserted)
    require(inserted.isEmpty ||
      insertedRows.where(not(hit)).limit(1).count() == 0,
      s"$root: every replaceWhere source row must satisfy the " +
        "predicate — found rows outside it (write them with append)")
    // CDC: deterministic re-reads of immutable parquet — the captured
    // rows are exactly what the rewrite dropped/replaced/inserted
    val cdcFiles: Option[Seq[FileEntry]] =
      if (!effCdf(m)) None
      else Some {
        val base =
          if (op == OpUpdate) matching.withColumn(ChangeTypeCol,
              flit("update_preimage"))
            .unionByName(
              replaced.withColumn(ChangeTypeCol, flit("update_postimage")))
          else matching.withColumn(ChangeTypeCol, flit("delete"))
        val changes =
          if (inserted.isEmpty) base
          else base.unionByName(
            insertedRows.withColumn(ChangeTypeCol, flit("insert")))
        writeDataFiles(changes, Nil, withStats = false, enforce = false)._1
      }
    commitRowLevel(op, m, affected, files ++ inserted, m.schemaDdl, None,
      cdcFiles, candidate)
  }

  /** Commit a rewrite planned against snapshot `m` — the one conflict
    * rule for every commit that replaces files (row-level DML, partition
    * deletes, compaction, native V2 writes): the `affected` entries it
    * read give way to `added` (rewritten files, re-vectored entries,
    * appended rows). When another commit landed first, AUTO-REBASE
    * (optimistic concurrency with logical conflict detection, the Delta
    * discipline) iff that commit provably left our result unchanged:
    *
    *  - schema, bucket spec and partition columns are unchanged;
    *  - the write invariants ([[invariantsOf]]) are unchanged — new
    *    rows were checked against `m`'s, and a racing ADD CONSTRAINT
    *    must not see rows it forbids publish after it;
    *  - every affected entry is still live and EQUAL to the one read
    *    (same path, deletion vector and row count — a merge-on-read
    *    delete re-tags a file in place, and publishing a rewrite of
    *    the rows read before it would undo that delete);
    *  - no entry added since `m` passes `mayMatch` (it could hold rows
    *    a serial execution would have rewritten).
    *
    * Then the result is byte-for-byte what a serial execution would
    * produce: recompose against the new snapshot, keeping everything
    * the other commit did elsewhere. Anything else is a genuine
    * conflict — refuse with rerun, which re-plans against the new
    * snapshot. */
  private def commitRowLevel(op: String, m: Manifest,
      affected: Seq[FileEntry], added: Seq[FileEntry], ddl: String,
      txn: Option[(String, Long)], cdcFiles: Option[Seq[FileEntry]],
      mayMatch: FileEntry => Boolean): Long = {
    val affectedPaths = affected.map(_.path).toSet
    commit { latest =>
      val cur = latest.getOrElse(sys.error(s"$root vanished during $op — rerun"))
      if (cur.version != m.version) {
        val curByPath = cur.files.map(f => f.path -> f).toMap
        val basePaths = m.files.map(_.path).toSet
        val conflict =
          if (cur.schemaDdl != m.schemaDdl || cur.bucketSpec != m.bucketSpec ||
              cur.partitionCols != m.partitionCols)
            Some("changed the schema or layout")
          else if (invariantsOf(cur.properties) != invariantsOf(m.properties))
            Some("changed the write invariants")
          else if (!affected.forall(f => curByPath.get(f.path).contains(f)))
            Some("changed a file read by this rewrite")
          else if (cur.files.exists(f => !basePaths(f.path) && mayMatch(f)))
            Some("added a file that may hold matching rows")
          else None
        require(conflict.isEmpty, s"concurrent commit v${cur.version} " +
          s"${conflict.getOrElse("")} during $op on $root — rerun")
      }
      Pending(op, ddl, m.partitionCols, m.bucketSpec, txn, added,
        affectedPaths, cdcFiles)
    }
  }

  /** A row-level rewrite's output schema must fit the table: no
    * retyped column, new columns only with `allowNew`
    * (schemaAutoMerge), and EVERY table column kept — the
    * ⊆-compatibility check alone lets a resolver that DROPS a column
    * pass, and reads would then null-backfill that column in the
    * rewritten files while the others keep real values. */
  private def requireRewriteSchema(op: String, m: Manifest,
      out: StructType, allowNew: Boolean): Unit = {
    val schema = StructType.fromDDL(m.schemaDdl)
    requireCompatible(schema, out, allowNew)
    if (allowNew) requireFreshNamesAddressable(m, out)
    val outNames = out.fieldNames.toSet
    val dropped = schema.fieldNames
      .filterNot(n => n == BucketCol || outNames.contains(n))
    require(dropped.isEmpty,
      s"$op dropped column(s) ${dropped.mkString(", ")} — " +
        "rewritten rows must keep every table column")
  }

  /** The `candidates` holding at least one row `select` keeps — ONE
    * discovery scan over them with every row tagged by its file
    * ([[readEntriesTagged]]). */
  private def filesHolding(m: Manifest, candidates: Seq[FileEntry])(
      select: DataFrame => DataFrame): Seq[FileEntry] =
    if (candidates.isEmpty) Nil
    else {
      val tag = "__src_file"
      val paths = select(readEntriesTagged(m, candidates, Some(tag)))
        .select(col(tag)).distinct().collect()
        .map(r => relativize(new Path(new java.net.URI(r.getString(0)))))
        .toSet
      candidates.filter(f => paths(f.path))
    }

  /** The live rows of `entries` (rows their vectors already delete are
    * excluded, so re-deleting is a no-op and vectors never hold
    * duplicates) under logical names, each tagged with its data file's
    * full metadata path ([[DvFileCol]]), DV key ([[DvPathCol]]) and
    * row position ([[DvPosCol]]) — the discovery scan of every
    * merge-on-read write. The full path rides along because the DV key
    * is the RAW symmetric extraction (possibly URI-encoded) while
    * manifest entries hold decoded paths; [[vectorize]] maps between
    * the two through URI parsing, never by re-encoding. */
  private def readPositionTagged(m: Manifest,
      entries: Seq[FileEntry]): DataFrame = {
    val tagged = spark.read.schema(physSchemaOf(m))
      .parquet(entries.map(f => new Path(root, f.path).toString): _*)
      .withColumn(DvFileCol, col("_metadata.file_path"))
      .withColumn(DvPathCol, relDataPath)
      .withColumn(DvPosCol, col("_metadata.row_index"))
    val live = dvPairs(entries).fold(tagged)(dv => tagged.join(
      org.apache.spark.sql.functions.broadcast(dv),
      Seq(DvPathCol, DvPosCol), "left_anti"))
    toLogicalDf(live, m)
  }

  /** Vector the [[readPositionTagged]] rows `matching`: ONE driver
    * action yields per-file deleted-row counts and the raw↔decoded
    * path mapping (≤ one row per file), then [[foldDv]]. Returns
    * (affected entries, their re-tagged replacements), both empty
    * when nothing matched. */
  private def vectorize(m: Manifest,
      matching: DataFrame): (Seq[FileEntry], Seq[FileEntry]) = {
    import org.apache.spark.sql.functions.{count => fcount, first => ffirst, lit => flit}
    val freshCounts = matching.groupBy(col(DvPathCol))
      .agg(fcount(flit(1)).as("n"), ffirst(col(DvFileCol)).as("full"))
      .collect().map(r => relativize(new Path(new java.net.URI(
        r.getAs[String]("full")))) -> r.getAs[Long]("n")).toMap
    val affected = m.files.filter(f => freshCounts.contains(f.path))
    if (affected.isEmpty) (Nil, Nil)
    else (affected, foldDv(affected,
      matching.select(col(DvPathCol), col(DvPosCol)), freshCounts))
  }

  /** Fold `fresh` deletions (DV pairs) into ONE new deletion vector
    * for `affected`: fresh ∪ the affected files' PRIOR vectors (one DV
    * per entry — later deletes replace, never chain; [[dvPairs]]
    * scopes each file to the sidecar it pins), written as one side
    * file (a vector is deleted-row-sized metadata, not data). Returns
    * the entries re-tagged to it, `freshCounts` (new deleted rows per
    * entry path) added to their counts. Prior rows of UNaffected files
    * stay served by their old DV file, which remains live while any
    * entry references it. */
  private def foldDv(affected: Seq[FileEntry], fresh: DataFrame,
      freshCounts: Map[String, Long]): Seq[FileEntry] = {
    val dvFile = writeDvFile(dvPairs(affected).fold(fresh)(fresh.unionByName(_)))
    affected.map(f => f.copy(dvPath = Some(dvFile),
      dvRows = f.dvRows + freshCounts(f.path)))
  }

  /** Land DV `pairs` as ONE side file; returns its root-relative path. */
  private def writeDvFile(pairs: DataFrame): String =
    writeDataFiles(pairs.coalesce(1), Nil, withStats = false,
        enforce = false)._1 match {
      case Seq(one) => one.path
      case other    => sys.error(s"$root: DV write produced ${other.size} files")
    }

  /** The condition of `cond` ANALYZED against an empty frame of
    * `schema` — attribute resolution (and Spark's own type coercion)
    * without touching any data. None when analysis folds the filter
    * away (e.g. `lit(true)`). */
  private def analyzedPredicate(schema: StructType, cond: Column)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    empty.where(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
  }

  /** Zone-map candidate test for a set of RESOLVED predicates: keeps
    * every file whose manifest [min,max] ranges could hold a matching
    * row. Per-column range constraints `(field, lo, hi)` come from the
    * predicates' top-level conjuncts — the sound subset for zone-map
    * pruning: `=`, `<`, `<=`, `>`, `>=` between a column (possibly
    * behind an exact widening numeric cast, which is monotone) and a
    * literal. Bounds are statCmp-space strings; anything unextractable
    * simply contributes no constraint, so pruning degrades to keeping
    * files, never to dropping rows. Strict bounds prune as non-strict
    * — sound, marginally weaker. Shared by [[rewriteWhere]]'s planning
    * + auto-rebase test and the scan-time file skipping of the
    * txtable read relation. */
  private[graft] def candidateFilter(schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      physOf: String => String = identity)
      : FileEntry => Boolean = {
    val constraints = rangeConstraintsOf(schema, preds)
    val eqHashes = equalityHashesOf(schema, preds)
    val inLists = inConstraintsOf(schema, preds)
    val nullTests = nullConstraintsOf(schema, preds)
    f => nullTests.forall { case (name, wantNull) =>
      // null-count skipping: IS NULL prunes files recording ZERO
      // nulls; IS NOT NULL prunes all-null files. Absent counts
      // (legacy entries, stats off) keep the file
      f.nulls.get(physOf(name)) match {
        case None     => true
        case Some(nc) =>
          if (wantNull) nc > 0
          else f.rows < 0 || nc < f.rows
      }
    } && constraints.forall {
      case (field, lo, hi) =>
        val key = physOf(field.name)
        try
          lo.forall(b => f.max.get(key).forall(mx =>
            statCmp(field.dataType, mx, b) >= 0)) &&
          hi.forall(b => f.min.get(key).forall(mn =>
            statCmp(field.dataType, mn, b) <= 0))
        // unparsable stat/bound keeps the file — pruning must never
        // drop rows (the readWhereRange discipline)
        catch { case _: IllegalArgumentException => true }
    } && eqHashes.forall { case (c, h) =>
      // files without a filter for the column are kept; a definite
      // bloom miss is a sound prune (no false negatives)
      bloomsOf(f).get(physOf(c)).forall(enc =>
        TxTable.bloomMightContain(enc, h))
    } && inLists.forall { case (field, values) =>
      // IN-list: the file survives iff SOME value could be present —
      // inside the [min,max] range AND (when a bloom exists) possibly
      // in the filter. Disjunction of the per-value tests, each sound.
      val key = physOf(field.name)
      values.exists { case (b, h) =>
        val rangeOk = try
          b.forall(bs =>
            f.max.get(key).forall(mx =>
              statCmp(field.dataType, mx, bs) >= 0) &&
            f.min.get(key).forall(mn =>
              statCmp(field.dataType, mn, bs) <= 0))
          catch { case _: IllegalArgumentException => true }
        val bloomOk = h.forall(hv =>
          bloomsOf(f).get(key).forall(enc =>
            TxTable.bloomMightContain(enc, hv)))
        rangeOk && bloomOk
      }
    }
  }

  /** Top-level `IS [NOT] NULL` conjuncts over direct columns — the
    * sound inputs for null-count skipping. Note Spark inserts an
    * implicit `IsNotNull` under every comparison, so all-null files
    * prune on almost any filtered scan. */
  private def nullConstraintsOf(schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(String, Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, Attribute, Expression, IsNotNull, IsNull}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    preds.flatMap(conjuncts).flatMap {
      case IsNull(a: Attribute) =>
        schema.fields.find(_.name == a.name).map(f => (f.name, true))
      case IsNotNull(a: Attribute) =>
        schema.fields.find(_.name == a.name).map(f => (f.name, false))
      case _ => None
    }
  }

  /** Pushed V1 source filters as catalyst conjuncts for the candidate
    * test — only shapes the constraint extractors understand convert
    * (EqualTo/comparisons/In over direct columns with non-null
    * values); everything else (Or, string predicates, null tests)
    * contributes no constraint, which keeps pruning conservative. */
  private[graft] def sourcesToCatalyst(schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.sources
    def ref(name: String) = schema.fields.find(_.name.equalsIgnoreCase(name))
      .map(f => (AttributeReference(f.name, f.dataType)(), f.dataType))
    def lit(v: Any, dt: org.apache.spark.sql.types.DataType) =
      try Some(Literal.create(v, dt))
      catch { case _: RuntimeException => None }
    filters.flatMap {
      case sources.EqualTo(c, v) if v != null => for {
        (a, dt) <- ref(c); l <- lit(v, dt) } yield EqualTo(a, l)
      case sources.GreaterThan(c, v) if v != null => for {
        (a, dt) <- ref(c); l <- lit(v, dt) } yield GreaterThan(a, l)
      case sources.GreaterThanOrEqual(c, v) if v != null => for {
        (a, dt) <- ref(c); l <- lit(v, dt) } yield GreaterThanOrEqual(a, l)
      case sources.LessThan(c, v) if v != null => for {
        (a, dt) <- ref(c); l <- lit(v, dt) } yield LessThan(a, l)
      case sources.LessThanOrEqual(c, v) if v != null => for {
        (a, dt) <- ref(c); l <- lit(v, dt) } yield LessThanOrEqual(a, l)
      case sources.In(c, vs) if vs != null && vs.nonEmpty =>
        ref(c).flatMap { case (a, dt) =>
          val ls = vs.toSeq.filter(_ != null).flatMap(v => lit(v, dt))
          if (ls.isEmpty) None else Some(In(a, ls))
        }
      case sources.IsNull(c) => ref(c).map { case (a, _) =>
        org.apache.spark.sql.catalyst.expressions.IsNull(a) }
      case sources.IsNotNull(c) => ref(c).map { case (a, _) =>
        org.apache.spark.sql.catalyst.expressions.IsNotNull(a) }
      case _ => None
    }
  }

  /** IN-list conjuncts (both the `In` and optimizer-converted `InSet`
    * shapes) over a DIRECT attribute: per value, an optional
    * statCmp-space bound (range test) and an optional xxhash64 (bloom
    * test when the value's type matches the column exactly). Empty or
    * null-only lists contribute no constraint. */
  private def inConstraintsOf(schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(org.apache.spark.sql.types.StructField, Seq[(Option[String], Option[Long])])] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, In, InSet, Literal, XxHash64}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    def boundStr(l: Literal): Option[String] = l match {
      case Literal(null, _) => None
      case Literal(x, dt)   => dt match {
        case StringType => Some(x.toString)
        case FloatType  => Some(x.asInstanceOf[Float].toDouble.toString)
        case ByteType | ShortType | IntegerType | LongType | DoubleType |
             _: DecimalType => Some(x.toString)
        case org.apache.spark.sql.types.DateType =>
          Some(java.time.LocalDate.ofEpochDay(
            x.asInstanceOf[Int].toLong).toString)
        case _ => None
      }
    }
    def mk(a: Attribute, lits: Seq[Literal]) =
      schema.fields.find(_.name == a.name).map { f =>
        f -> lits.filter(_.value != null).map { l =>
          val hash =
            if (l.dataType == f.dataType)
              Some(new XxHash64(Seq(l)).eval(null).asInstanceOf[Long])
            else None
          (boundStr(l), hash)
        }
      }.filter(_._2.nonEmpty)
    preds.flatMap(conjuncts).flatMap {
      case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        mk(a, vs.map(_.asInstanceOf[Literal]))
      case InSet(a: Attribute, hset) =>
        mk(a, hset.toSeq.map(v => Literal(v, a.dataType))) // internal reps
      case _ => None
    }
  }

  /** Equality conjuncts usable for Bloom probes: a DIRECT attribute
    * (casts change the value space the write-side hash saw) equated
    * to a non-null literal of EXACTLY the column's type. The hash is
    * Spark's own xxhash64 of the literal, evaluated driver-side —
    * identical by construction to what the write-side aggregation
    * hashed for matching values. */
  private def equalityHashesOf(schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(String, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, Literal, XxHash64}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    def mk(a: Attribute, l: Literal): Option[(String, Long)] =
      schema.fields.find(_.name == a.name)
        .filter(f => f.dataType == l.dataType && l.value != null)
        .map(f => f.name ->
          new XxHash64(Seq(l)).eval(null).asInstanceOf[Long])
    preds.flatMap(conjuncts).flatMap {
      case EqualTo(a: Attribute, l: Literal) => mk(a, l)
      case EqualTo(l: Literal, a: Attribute) => mk(a, l)
      case _ => None
    }
  }

  private def rangeConstraintsOf(schema: StructType,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[(org.apache.spark.sql.types.StructField, Option[String], Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, Attribute, Cast, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    // exact, monotone widenings only: pruning compares the bound
    // against the NARROW column's stats in decimal space, which is
    // order-faithful exactly when the cast loses nothing
    def exactWidening(from: org.apache.spark.sql.types.DataType,
        to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
      case (ByteType | ShortType | IntegerType,
            ShortType | IntegerType | LongType | DoubleType | FloatType) => true
      case (LongType, DoubleType)      => true // inexact >2^53 but monotone
      case (FloatType, DoubleType)     => true
      case (_: DecimalType, DoubleType) => true // monotone
      case (ByteType | ShortType | IntegerType | LongType, _: DecimalType) => true
      case _ => false
    }
    def attrOf(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast      => c.child match {
        case a: Attribute if exactWidening(a.dataType, c.dataType) => Some(a)
        case _ => None
      }
      case _ => None
    }
    def bound(l: Literal): Option[String] = l match {
      case Literal(null, _) => None
      case Literal(x, dt)   => dt match {
        case StringType => Some(x.toString)
        case FloatType  =>
          // widen through float so the bound lives where the residual
          // comparison does (the readWhereRange float discipline)
          Some(x.asInstanceOf[Float].toDouble.toString)
        case ByteType | ShortType | IntegerType | LongType | DoubleType |
             _: DecimalType => Some(x.toString)
        case org.apache.spark.sql.types.DateType =>
          Some(java.time.LocalDate.ofEpochDay(
            x.asInstanceOf[Int].toLong).toString)
        case _ => None // timestamps: tz-encoded stats, skip
      }
    }
    def field(a: Attribute) = schema.fields.find(_.name == a.name)
    preds.flatMap(conjuncts).flatMap {
      case EqualTo(e, l: Literal) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, Some(b), Some(b))
      case EqualTo(l: Literal, e) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, Some(b), Some(b))
      case GreaterThan(e, l: Literal) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, Some(b), None)
      case GreaterThanOrEqual(e, l: Literal) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, Some(b), None)
      case LessThan(e, l: Literal) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, None, Some(b))
      case LessThanOrEqual(e, l: Literal) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, None, Some(b))
      case GreaterThan(l: Literal, e) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, None, Some(b))
      case GreaterThanOrEqual(l: Literal, e) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, None, Some(b))
      case LessThan(l: Literal, e) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, Some(b), None)
      case LessThanOrEqual(l: Literal, e) => for {
        a <- attrOf(e); f <- field(a); b <- bound(l)
      } yield (f, Some(b), None)
      case _ => None
    }
  }

  /** RESTORE to a retained older version — a METADATA-ONLY commit
    * publishing the target snapshot's exact file list, schema, and
    * layout as a NEW version (zero data read or written: the restored
    * files are still on disk because a live log entry references
    * them, and the new reference keeps them alive past the old
    * entry's expiry — [[vacuum]] honors every live manifest). History
    * is preserved: the restore is itself a commit, so time travel to
    * the undone versions keeps working until they expire, and a
    * second restore can redo. Change-feed consumers reset (content
    * rewound — a file diff is not a row diff), same as overwrite. */
  def restore(version: Long): Long = {
    val target = manifest(version) // throws if expired/unknown
    commit { latest =>
      val cur = latest.getOrElse(sys.error(s"$root has no committed snapshots"))
      require(version <= cur.version,
        s"$root: cannot restore to version $version — latest is ${cur.version}")
      // the restored files read with the TARGET's column mapping;
      // retired names stay the UNION (never resurrect a physical name
      // any retained history ever dropped)
      Pending(OpRestore, target.schemaDdl, target.partitionCols,
        target.bucketSpec, None, target.files, livePaths(latest),
        colMap = Some(target.colMap),
        retired = Some((cur.retired ++ target.retired).distinct))
    }
  }

  /** SHALLOW CLONE this table's latest snapshot into `targetDir` — a
    * METADATA-ONLY commit in the TARGET's log whose file entries point
    * at THIS table's data files by absolute path (zero bytes copied;
    * cloning a 100 TB table costs one manifest write). The clone then
    * evolves independently: its own appends/merges/deletes land under
    * its own `data/` dir and commit to its own log; the source is
    * never touched. Stats/blooms/DV references carry, so pruning and
    * merge-on-read work on the clone from the first read. Properties,
    * column mapping, constraints, and layout carry too.
    *
    * The standard shallow-clone caveat applies (exactly Delta's):
    * [[vacuum]] on the SOURCE does not know about clones — vacuuming
    * source files still referenced by a clone breaks the clone. Clone
    * for experiments/dev-branches, compact-into-independence (a
    * [[compact]] on the clone rewrites everything clone-local), or
    * keep source retention ≥ clone lifetime. The clone's own vacuum
    * is safe: it sweeps only the clone's `data/` dir, where source
    * files never live. */
  def cloneTo(targetDir: String): Long = {
    val v = latestVersion.getOrElse(
      sys.error(s"$root has no committed snapshots to clone"))
    val m = manifest(v)
    val target = TxTable(spark, targetDir)
    require(target.latestVersion.isEmpty,
      s"$targetDir is already a TxTable — clone into a fresh directory")
    // scheme-less absolute paths (same filesystem as the clone — the
    // local/HDFS case; a cross-filesystem clone would need full URIs
    // and a per-entry FileSystem, out of scope): `relativize` keeps
    // foreign absolute paths verbatim, so predicate-DML discovery and
    // DV keys on the clone match its manifest entries by construction
    val absRoot = fs.makeQualified(root).toUri.getPath
    val absolute = m.files.map { f =>
      f.copy(path = s"$absRoot/${f.path}",
        dvPath = f.dvPath.map(p => s"$absRoot/$p"),
        bloomSidecar = f.bloomSidecar.map(p => s"$absRoot/$p"))
    }
    target.commitClone(m, absolute)
  }

  /** DEEP clone: same metadata carry as [[cloneTo]], but every live
    * file (data + DV + bloom sidecars) physically COPIES into the
    * target's own tree — a self-contained replica with no lifetime
    * coupling to the source (the shallow clone's source-vacuum caveat
    * disappears at the price of the bytes). Stats/properties/
    * constraints/mapping carry through the same header path. */
  def deepCloneTo(targetDir: String): Long = {
    val v = latestVersion.getOrElse(
      sys.error(s"$root has no committed snapshots to clone"))
    val m = manifest(v)
    val target = TxTable(spark, targetDir)
    require(target.latestVersion.isEmpty,
      s"$targetDir is already a TxTable — clone into a fresh directory")
    val tRoot = new Path(targetDir)
    val tFs = tRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def copyRel(rel: String): String = {
      val srcP = new Path(root, rel)
      val dstP = new Path(tRoot, rel)
      tFs.mkdirs(dstP.getParent)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, srcP, tFs, dstP, false, spark.sparkContext.hadoopConfiguration)
      rel
    }
    // the byte movement is the whole cost of a deep clone — run the
    // per-file copies on a bounded pool instead of a serial driver
    // loop (each worker opens its own streams; FileUtil.copy itself
    // is thread-safe per file). Entries publish AFTER every copy
    // lands, in the single commitClone below.
    val rels: Seq[String] = m.files.flatMap(f =>
      Seq(f.path) ++ f.dvPath ++ f.bloomSidecar).distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())))
    try {
      val futures = rels.map(rel => pool.submit(
        new java.util.concurrent.Callable[String] {
          override def call(): String = copyRel(rel)
        }))
      futures.foreach(_.get()) // propagate the first copy failure
    } finally pool.shutdown()
    // entries carry unchanged: the copy preserved relative paths
    target.commitClone(m, m.files)
  }

  /** Target-side half of [[cloneTo]]: publish the source snapshot's
    * header + absolute file list as this table's version 0. */
  /** In-place import of a bare parquet directory (Delta's CONVERT TO
    * DELTA): commit a v0 snapshot referencing the existing files
    * WHERE THEY ARE — zero bytes copied, and every transactional
    * surface (time travel, DML, OPTIMIZE, the format/SQL seam) works
    * from that commit on. One stats pass (the usual one-pass
    * aggregation) gives the converted files zone maps unless
    * `statsOnWrite=false`. Flat directories only: external hive
    * layouts carry their partition values as bare `k=v` dirs, which
    * this log records as data columns, not layout — repartition
    * through overwrite if you need partition pruning. Vacuum treats
    * converted originals like any referenced file: root-level
    * parquet files join the sweep once nothing references them. */
  private[core] def convertInPlace(): Long = {
    require(latestVersion.isEmpty,
      s"$root is already a TxTable — CONVERT is for bare parquet dirs")
    val files = fs.listStatus(root).filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"$root holds no parquet files to convert")
    val df = spark.read.parquet(root.toString)
    val schema = df.schema
    val stats =
      if (statsOnWrite) collectFileStats(root, schema)
      else Map.empty[String, (Map[String, String], Map[String, String], Long, Map[String, String], Map[String, Long])]
    val entries = files.map { st =>
      val rel = relativize(st.getPath)
      val (mins, maxs, n, blooms, nulls) = stats.getOrElse(rel,
        (Map.empty[String, String], Map.empty[String, String], -1L,
          Map.empty[String, String], Map.empty[String, Long]))
      FileEntry(rel, Map.empty, mins, maxs, st.getLen,
        st.getModificationTime, rows = n, bloom = blooms, nulls = nulls)
    }.toSeq.sortBy(_.path)
    commit { latest =>
      require(latest.isEmpty,
        s"$root: a commit raced the CONVERT — the directory is " +
          "already a TxTable")
      Pending(OpConvert, schemaDdlOf(schema), Nil, None, None, entries)
    }
  }

  /** CONVERT FROM DELTA: publish the Delta table's ACTIVE snapshot
    * (parsed from the open `_delta_log` protocol, [[DeltaLog]]) as
    * this log's version 0 — the files stay WHERE THEY ARE, zero bytes
    * copied, and every transactional surface (time travel, DML,
    * OPTIMIZE, the SQL seam) works from that commit on. The inverse
    * of [[convertInPlace]] for the reference's actual substrate
    * (Delta on S3A, reference resources/spark.py:65-67).
    *
    * Stats carry over where the encodings agree: numeric/date min/max
    * and string MIN translate directly; string MAX is skipped (Delta
    * truncates string maxes — only delta-spark's incremented form is
    * a sound bound, and hand-written logs need not use it), and
    * timestamps are skipped (ISO-8601 vs this log's JDBC form).
    * Absent stats read conservatively, exactly like stats-off writes.
    *
    * Partitioned Delta tables REFUSE zero-copy conversion: Delta
    * stores partition values only in the log, not in the data files,
    * so a bare file-list snapshot would read those columns as null.
    * Import them with one copying pass instead:
    * `DeltaLog.read(spark, dir)` → `overwrite(df, partitionBy)`. */
  private[core] def convertFromDeltaInPlace(): Long = {
    require(latestVersion.isEmpty,
      s"$root is already a TxTable — CONVERT FROM DELTA targets a " +
        "Delta table without a graft log")
    val snap = DeltaLog.snapshot(spark, root.toString)
    val entries = deltaSnapshotEntries(snap)
    commit { latest =>
      require(latest.isEmpty,
        s"$root: a commit raced the CONVERT FROM DELTA")
      Pending(OpConvert, schemaDdlOf(snap.schema), Nil, None,
        // the follow anchor: the Delta version this snapshot reflects,
        // recorded as an app-level txn so [[followDelta]] resumes
        // EXACTLY-ONCE from here without rescanning the foreign log
        Some(TxTable.FollowTxnId -> snap.version), entries,
        // id-mode upstream recorded in the manifest so every LATER
        // incremental window footer-verifies its new files too — the
        // convert-time check alone would leave window adds unverified
        properties = if (snap.cmMode == "id")
          Some(Map(TxTable.PropFollowIdMode -> "true")) else None,
        colMap = if (snap.colMap.isEmpty) None else Some(snap.colMap))
    }
  }

  /** Translate a Delta snapshot's live adds into manifest file
    * entries — zero copy, stats where sound, DVs materialized into
    * the engine's native sidecar (shared by [[convertFromDeltaInPlace]]
    * and [[followDelta]]'s reset path so the two cannot drift). */
  private def deltaSnapshotEntries(snap: DeltaLog.DeltaSnapshot)
      : Seq[FileEntry] = {
    // id-mode files resolve columns by parquet field id; their NAMES
    // are trustworthy only where they match the metaData physical
    // names — a Delta-WRITTEN id-mode table always does (the writer
    // emits physical names alongside the ids), but an
    // Iceberg-converted file written before a rename keeps its
    // pre-rename names. This engine's manifest machinery resolves by
    // name, so zero-copy adoption VERIFIES every footer once: all
    // expected physical names present → names are exactly as
    // trustworthy as in name mode and the colMap adoption below is
    // sound; any drifted file refuses by path toward the copy path.
    // Cost: O(files) footer reads, driver-side — convert is a
    // one-time migration and the DV translation below already pays
    // the same shape.
    if (snap.cmMode == "id")
      verifyIdModeFooters(snap.adds,
        snap.schema.fields.map(f => snap.physName(f.name)).toSeq)
    require(snap.partitionCols.isEmpty,
      s"$root: partitioned Delta table (${snap.partitionCols.mkString(", ")}) " +
        "— partition values live only in the Delta log, so zero-copy " +
        "convert would null them; import by copy instead: " +
        "DeltaLog.read(...) then overwrite(df, partitionBy)")
    require(snap.adds.nonEmpty, s"$root: Delta snapshot holds no live files")
    val schema = snap.schema
    val statOk = schema.fields.filter(f => statsEligible(f.dataType))
      .map(f => f.name -> f.dataType).toMap
    // column-mapped Delta slots straight into the engine's own
    // logical→physical machinery: the manifest adopts Delta's frozen
    // physical names as its colMap, and its stats stay PHYSICAL-keyed
    // (the manifest convention) while DeltaLog surfaces logical keys
    def toPhys(k: String): String = snap.colMap.getOrElse(k, k)
    withDvSidecar(snap.adds,
      snap.adds.map(deltaAddEntry(_, statOk, toPhys))).sortBy(_.path)
  }

  /** Delta deletion vectors translate to the engine's native
    * merge-on-read sidecar: ONE parquet side-file of (relative data
    * path, row position) pairs — deleted-row-sized — whose keys match
    * the read probe ([[relDataPath]]) by construction. Entries whose
    * add carried a DV get the sidecar attached; a no-DV batch returns
    * `entries` untouched (zero extra work). Shared by the snapshot
    * convert and [[followDelta]]'s incremental window (a window's
    * sidecar coexists with earlier windows' — the DV read collects
    * every distinct dvPath). */
  private def withDvSidecar(adds: Seq[DeltaLog.DeltaAdd],
      entries: Seq[FileEntry]): Seq[FileEntry] = {
    val dved = adds.filter(_.dv.isDefined)
    if (dved.isEmpty) return entries
    val pairs = dved.flatMap { a =>
      val key = encodedRelPath(a.path)
      DeltaDv.readPositions(fs, root, a.dv.get).map(p =>
        org.apache.spark.sql.Row(key, p))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(DvPathCol, StringType,
          nullable = false),
        org.apache.spark.sql.types.StructField(DvPosCol,
          org.apache.spark.sql.types.LongType, nullable = false))))
    val dvFile = writeDvFile(df)
    val dvByPath = dved.map(a => a.path -> a.dv.get.cardinality).toMap
    entries.map { e =>
      dvByPath.get(e.path) match {
        case Some(card) => e.copy(dvPath = Some(dvFile), dvRows = card)
        case None => e
      }
    }
  }

  /** Footer check gating name-based adoption of id-mode files: every
    * file must carry ALL the expected physical column names — a
    * Delta-WRITTEN id-mode file always does, an Iceberg-converted file
    * written before a rename does not, and reading a drifted file by
    * name returns silent nulls, the worst failure mode. Shared by the
    * zero-copy convert (all snapshot adds, once) and [[followDelta]]'s
    * incremental windows (each window's new adds — the
    * [[TxTable.PropFollowIdMode]] manifest property, stamped at
    * convert, says the upstream is id-mode). O(batch) footer reads,
    * driver-side. */
  private def verifyIdModeFooters(adds: Seq[DeltaLog.DeltaAdd],
      expected: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    adds.foreach { a =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(root, a.path), spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val names =
        try r.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet
        finally r.close()
      val missing = expected.filterNot(names)
      require(missing.isEmpty,
        s"$root: id-mode file ${a.path} lacks physical column(s) " +
          s"${missing.mkString(", ")} (footer names: " +
          s"${names.toSeq.sorted.mkString(", ")}) — name-based " +
          "zero-copy adoption would misresolve; import by copy: " +
          "DeltaLog.read(...) then overwrite(df)")
    }
  }

  /** One Delta add → one manifest file entry: stats carry over only
    * where the encodings agree (numeric/date min/max, string MIN —
    * Delta truncates string maxes; timestamps skipped — ISO-8601 vs
    * the JDBC form), keyed physical like the manifest convention. */
  private def deltaAddEntry(a: DeltaLog.DeltaAdd,
      statOk: Map[String, org.apache.spark.sql.types.DataType],
      toPhys: String => String): FileEntry = {
    def usable(kv: Map[String, String], maxSide: Boolean) = kv.filter {
      case (k, _) => statOk.get(k).exists {
        case org.apache.spark.sql.types.TimestampType => false
        case StringType => !maxSide // truncated string max is unsound
        case _ => true
      }
    }.map { case (k, v) => toPhys(k) -> v }
    FileEntry(a.path, Map.empty, usable(a.min, maxSide = false),
      usable(a.max, maxSide = true), a.bytes, a.mtimeMs,
      rows = a.rows,
      nulls = a.nulls.filter(kv => statOk.contains(kv._1))
        .map { case (k, v) => toPhys(k) -> v })
  }

  /** FOLLOW DELTA — the INVERSE of [[mirrorToDelta]], closing the
    * migration story for a user whose UPSTREAM keeps writing Delta:
    * tail the foreign `_delta_log` at this root into the graft log
    * with exactly-once version anchors. Bootstrap (no graft log yet)
    * is [[convertFromDeltaInPlace]] — the zero-copy snapshot convert,
    * which records the consumed Delta version as an app-level txn
    * (`graft.deltaFollow`). Each subsequent call reads that anchor
    * from ONE manifest, parses only the JSON commits in
    * (anchor, head] (the s14 streaming source's window parser — no
    * snapshot reconstruction, no rescan), publishes their adds as one
    * graft APPEND, and advances the anchor in the same commit — a
    * restart resumes from the manifest, and a racing follower loses
    * the commit race loudly, never double-ingesting a window.
    *
    * Remove-bearing windows (upstream DELETE/MERGE copy-on-write —
    * every CDC-fed lakehouse) follow INCREMENTALLY too: each foreign
    * `remove` translates to a metadata-only manifest drop (the
    * [[deletePartitions]] discipline — the entry leaves the snapshot,
    * no data file is touched), and a deletion-vector'd re-add
    * (upstream merge-on-read DELETE/UPDATE) translates to the
    * engine's native DV sidecar ([[withDvSidecar]] — the same
    * machinery the snapshot convert uses), both published as one
    * DELETE/REPLACE-shaped graft commit so downstream change
    * consumers get the correct non-append signal. A metaData change
    * that is an ADDITIVE WIDENING (every existing field kept with
    * identical type and physical name; new fields nullable; partition
    * layout untouched — the foreign ALTER TABLE ADD COLUMN) follows
    * incrementally too, publishing the window under the widened
    * schema/colMap. Refuse-or-reset
    * remains for what a file-set delta CANNOT carry: a non-widening
    * metaData change (drop, retype, rename, re-partition), a protocol
    * change, or a `remove` of a path this follower
    * has never seen (encoding drift); `reset = true` re-snapshots the
    * foreign head instead — one zero-copy OVERWRITE (schema/colMap
    * re-adopted, DVs translated to the native sidecar) re-anchored at
    * the head. Downstream incremental consumers of the graft table
    * see that overwrite exactly as [[changesSince]]'s own restart
    * contract.
    *
    * Returns the graft version holding the anchor (the current one
    * when already caught up). */
  def followDelta(reset: Boolean = false): Long = {
    require(fs.exists(new Path(root, "_delta_log")),
      s"$root carries no _delta_log to follow")
    latestVersion match {
      case None => convertFromDeltaInPlace()
      case Some(gv) =>
        val m = manifest(gv)
        val anchor = m.txns.getOrElse(TxTable.FollowTxnId, sys.error(
          s"$root: graft log carries no ${TxTable.FollowTxnId} anchor — " +
            "not a Delta follower; bootstrap a fresh directory via " +
            "followDelta()/convertFromDelta()"))
        val head = DeltaLog.latestVersion(spark, root.toString).getOrElse(
          sys.error(s"$root: _delta_log vanished while following"))
        if (head <= anchor) return gv
        val schema = StructType.fromDDL(m.schemaDdl)
        if (!reset) {
          // window parse only — O(commits in window), never O(table).
          // remove actions TRANSLATE to metadata-only manifest drops
          // (the deletePartitions discipline: the entry leaves the
          // snapshot, no data file is read or written), so an upstream
          // that runs DELETE/MERGE copy-on-write follows incrementally
          // instead of forcing a full re-snapshot per rewrite; only
          // DV-bearing adds and metaData/protocol changes still refuse
          // (actionsInWindow) — those have row/schema-level meaning no
          // file-set delta can carry
          val pin = DeltaLog.DeltaSnapshot(root.toString, anchor, schema,
            m.partitionCols, Map.empty, Nil, m.colMap)
          // the window can be GONE: a pause longer than the upstream's
          // log retention ages the anchor's successor commits out. The
          // upstream's checkpoints still bound a SNAPSHOT-DIFF — one
          // net add/remove commit, O(live files), never a full
          // re-snapshot — so catch up through that instead of forcing
          // reset. The catch (not a pre-scan) is what makes it
          // race-proof against concurrent upstream log cleaning.
          val wOpt =
            try Some(DeltaLog.actionsInWindow(spark, pin, anchor, head))
            catch {
              case e: IllegalArgumentException
                  if Option(e.getMessage).exists(_.contains(
                    "aged out of the log")) => None
            }
          if (wOpt.isEmpty) return followCatchUp(m, anchor)
          val w = wOpt.get
          // ADDITIVE SCHEMA EVOLUTION: each foreign metaData change in
          // the window must WIDEN the running schema ([[requireWidening]]);
          // the window then publishes under the widened schema (old
          // files read the new columns as null, the widening semantic)
          val metaStates =
            w.metas.scanLeft((schema, m.colMap)) {
              case ((ps, pMap), meta) =>
                requireWidening(ps, pMap, m.partitionCols, meta,
                  "foreign metaData")
                (meta.schema, meta.colMap)
            }
          val (finalSchema, finalColMap) = metaStates.last
          // id-mode upstream (stamped at convert): window adds get the
          // same footer verification the snapshot convert ran — a
          // name-drifted new file would otherwise read as silent
          // nulls. Each add is verified against the schema IN FORCE
          // at its commit (metaIdxByPath): files written before an
          // in-window ADD COLUMN legitimately lack the new column (it
          // reads as null for them), while files added AFTER the
          // widening — including one shipped in the widening commit
          // itself — must carry the new column's physical name too,
          // or they'd read it as silent nulls, the exact drift this
          // check exists to refuse.
          if (m.properties.get(TxTable.PropFollowIdMode).contains("true"))
            w.adds.groupBy(a => w.metaIdxByPath.getOrElse(a.path, 0))
              .foreach { case (k, adds) =>
                val (sch, cm) = metaStates(k)
                verifyIdModeFooters(adds,
                  sch.fields.map(f => cm.getOrElse(f.name, f.name)).toSeq)
              }
          // actionsInWindow hands back PHYSICAL-keyed stats (it
          // translates only partition keys), and the manifest
          // convention is also physical — so the eligibility map keys
          // physical and the mapper is identity (unlike the snapshot
          // path, whose stats arrive logical-keyed)
          val statOk = finalSchema.fields
            .filter(f => statsEligible(f.dataType))
            .map(f => finalColMap.getOrElse(f.name, f.name) -> f.dataType)
            .toMap
          // DV-bearing adds (upstream merge-on-read DELETE/UPDATE:
          // the same path re-added with a deletion vector) translate
          // to the engine's native sidecar — one deleted-row-sized
          // parquet per window, coexisting with earlier windows'
          val entries = withDvSidecar(w.adds,
            w.adds.map(deltaAddEntry(_, statOk, identity)))
          val anyDv = w.adds.exists(_.dv.isDefined)
          val removed = w.removedPaths.toSet
          commitFollow(anchor) { l =>
            // a net-removed path must be a file this follower KNOWS —
            // in the manifest or added earlier in this same window; an
            // unknown path means the two logs' path spellings drifted,
            // and silently keeping the file would serve rows upstream
            // deleted (until its VACUUM turns them into read errors)
            val live = livePaths(Some(l))
            removed.foreach(p => require(live(p) || w.addedAnywhere(p),
              s"$root: foreign commit removes unknown file $p — " +
                "path-encoding drift between the logs; followDelta" +
                "(reset = true) re-snapshots the head"))
            // last-writer-wins per path (a Delta re-add refreshes the
            // entry), matching the Delta replay semantic; the op names
            // what the window DID, so downstream change consumers of
            // this graft table get the correct non-append signal for a
            // rewrite window (changesSince's own refuse-or-reset)
            // a DV'd re-add is a row-level DELETE, never an append —
            // downstream change consumers must get the rewrite signal
            val op =
              if (removed.isEmpty && !anyDv) OpAppend
              else if (entries.isEmpty) OpDelete
              else OpReplace
            Pending(op,
              if (w.metas.isEmpty) l.schemaDdl else schemaDdlOf(finalSchema),
              l.partitionCols, l.bucketSpec,
              Some(TxTable.FollowTxnId -> head), entries, removed,
              colMap =
                if (w.metas.isEmpty || finalColMap.isEmpty) None
                else Some(finalColMap))
          }
        } else {
          val snap = DeltaLog.snapshot(spark, root.toString)
          val entries = deltaSnapshotEntries(snap)
          commitFollow(anchor) { l =>
            Pending(OpOverwrite, schemaDdlOf(snap.schema), Nil, None,
              Some(TxTable.FollowTxnId -> snap.version), entries,
              livePaths(Some(l)),
              // re-stamp (or clear) the id-mode marker from the head's
              // own metadata, preserving unrelated table properties
              properties = {
                val base = l.properties - TxTable.PropFollowIdMode
                Some(if (snap.cmMode == "id")
                  base + (TxTable.PropFollowIdMode -> "true") else base)
              },
              colMap = if (snap.colMap.isEmpty) None else Some(snap.colMap))
          }
        }
    }
  }

  /** THE follow rule for a foreign schema change — in-window metaData
    * ([[followDelta]]) and across a lapse ([[followCatchUp]]) alike:
    * an ADDITIVE WIDENING follows, anything else refuses toward
    * `followDelta(reset = true)`. The partition columns stay the same;
    * every existing field keeps its type and physical name; a RENAME
    * is adopted only under column mapping, where physical names are
    * frozen at column birth, so the field still holding f's physical
    * name IS f under a new logical name (the same metadata-only commit
    * the engine's own RENAME COLUMN produces) — without mapping a
    * rename is indistinguishable from drop+add; new fields are
    * nullable (files written before them cannot satisfy NOT NULL).
    * `what` names the change in the refusals. */
  private def requireWidening(schema: StructType, colMap: Map[String, String],
      partitionCols: Seq[String], next: DeltaLog.ParsedMeta,
      what: String): Unit = {
    val reset = "followDelta(reset = true) re-snapshots"
    require(next.partitionCols == partitionCols,
      s"$root: $what changes partition columns " +
        s"(${partitionCols.mkString(",")} → ${next.partitionCols.mkString(",")})" +
        s" — a follower cannot re-layout; $reset")
    def phys(cm: Map[String, String], name: String) = cm.getOrElse(name, name)
    val kept = schema.fields.map { f =>
      val physOld = phys(colMap, f.name)
      val nf = next.schema.fields.find(_.name == f.name)
        .orElse(if (next.colMap.isEmpty) None
          else next.schema.fields.find(g => phys(next.colMap, g.name) == physOld))
        .getOrElse(sys.error(
          s"$root: $what DROPS column ${f.name} (no field keeps its " +
            "physical name; a rename adopts only under column mapping) — " +
            s"not an additive widening; $reset"))
      require(nf.dataType == f.dataType,
        s"$root: $what retypes ${f.name} (${f.dataType.simpleString} → " +
          s"${nf.dataType.simpleString}) — $reset")
      require(phys(next.colMap, nf.name) == physOld,
        s"$root: $what moves ${f.name}'s physical column — $reset")
      nf.name
    }.toSet
    next.schema.fields.filterNot(f => kept(f.name)).foreach(f => require(
      f.nullable, s"$root: $what adds NON-NULLABLE column ${f.name} — files " +
        s"written before it cannot satisfy the constraint; $reset"))
  }

  /** The follower's one commit step (window, reset and catch-up):
    * `body` composes the commit from the latest manifest once the
    * [[TxTable.FollowTxnId]] anchor is confirmed to still be the one
    * this follow started from — a racing follower that advanced it
    * wins, and this one raises instead of double-ingesting. */
  private def commitFollow(anchor: Long)(body: Manifest => Pending): Long =
    commit { latest =>
      val l = latest.getOrElse(sys.error(s"$root: log vanished"))
      require(l.txns.get(TxTable.FollowTxnId).contains(anchor),
        s"$root: a racing follower advanced the anchor past $anchor " +
          "— rerun followDelta() to resume from the new one")
      body(l)
    }

  /** Long-lapse follower catch-up: the incremental window aged out of
    * the upstream log (pause > upstream retention), so the head is
    * reconstructed from the upstream's CHECKPOINT + surviving JSON
    * ([[DeltaLog.snapshot]]) and diffed against the follower's own
    * manifest into ONE net add/remove commit — O(live files at head)
    * driver-side work and only the DRIFTED files' entries re-enter
    * the manifest; a reset would instead republish every entry
    * (O(table)). Schema changes across the lapse follow the same
    * additive-widening rule as in-window metaData; anything else
    * refuses toward `followDelta(reset = true)`.
    *
    * Drift detection per path: size or mtime moved, the deleted-row
    * count moved, or — the RESTORE corner where cardinality stays
    * equal while positions moved — the upstream vector's positions
    * differ from the native sidecar's (exact, deleted-row-sized
    * comparison, only for candidates that tie on everything else).
    * A lapse with zero drift still commits: the anchor must advance
    * to the head or every later follow re-runs the catch-up. */
  private def followCatchUp(m: Manifest, anchor: Long): Long = {
    val snap = DeltaLog.snapshot(spark, root.toString)
    require(snap.version > anchor,
      s"$root: upstream head ${snap.version} behind anchor $anchor after " +
        "retention cleaning — upstream log rewound; followDelta(reset = true)")
    requireWidening(StructType.fromDDL(m.schemaDdl), m.colMap,
      m.partitionCols, DeltaLog.ParsedMeta(snap.schema, snap.colMap,
        snap.cmMode, snap.partitionCols, snap.configuration),
      "the upstream head (across the lapse)")
    val byPathM = m.files.map(f => f.path -> f).toMap
    def dvDrifted(pf: FileEntry, a: DeltaLog.DeltaAdd): Boolean = {
      val upCard = a.dv.map(_.cardinality).getOrElse(0L)
      if (pf.dvRows != upCard) true
      else if (upCard == 0L) false
      else {
        val up = DeltaDv.readPositions(fs, root, a.dv.get)
        val native = dvPairs(Seq(pf)).get.collect()
          .map(_.getLong(1)).sorted
        !java.util.Arrays.equals(up, native)
      }
    }
    val changed = snap.adds.filter { a =>
      byPathM.get(a.path) match {
        case None     => true
        case Some(pf) => pf.bytes != a.bytes ||
          pf.mtimeMs != a.mtimeMs || dvDrifted(pf, a)
      }
    }
    val liveUp = snap.adds.map(_.path).toSet
    val removed = m.files.map(_.path).filterNot(liveUp).toSet
    // id-mode: drifted files verify against the HEAD schema's physical
    // names — the same strictness the reset/convert path applies (a
    // pre-widening file that survived the lapse unchanged is NOT in
    // `changed` and is never re-verified)
    if (m.properties.get(TxTable.PropFollowIdMode).contains("true"))
      verifyIdModeFooters(changed,
        snap.schema.fields.map(f => snap.physName(f.name)).toSeq)
    // snapshot stats arrive LOGICAL-keyed (unlike the window path) —
    // the [[deltaSnapshotEntries]] convention
    val statOk = snap.schema.fields.filter(f => statsEligible(f.dataType))
      .map(f => f.name -> f.dataType).toMap
    def toPhys(k: String): String = snap.colMap.getOrElse(k, k)
    val entries = withDvSidecar(changed,
      changed.map(deltaAddEntry(_, statOk, toPhys)))
    val appendShaped = removed.isEmpty &&
      changed.forall(a => !byPathM.contains(a.path) && a.dv.isEmpty)
    commitFollow(anchor) { l =>
      val op =
        if (appendShaped) OpAppend
        else if (entries.isEmpty && l.files.forall(f => removed(f.path)))
          OpDelete
        else OpReplace
      Pending(op, schemaDdlOf(snap.schema), l.partitionCols, l.bucketSpec,
        Some(TxTable.FollowTxnId -> snap.version), entries, removed,
        colMap = if (snap.colMap == m.colMap) None else Some(snap.colMap))
    }
  }

  /** CONVERT TO DELTA — the mirror of [[convertFromDeltaInPlace]]:
    * publish the CURRENT snapshot as an open `_delta_log` at the
    * table root, ZERO data copy (the same parquet files serve both
    * logs; this log is a one-commit mirror for delta-speaking readers
    * — delta-spark, Trino, DuckDB's delta extension — while graft
    * remains the writer). Emits protocol + metaData + one `add` per
    * live file (URL-encoded relative paths, `numRecords` stats where
    * known, partition values from the manifest). No checkpoint is
    * written HERE: a one-commit log IS its own compacted state — Delta
    * checkpoints exist to amortize many-commit replays, which is
    * exactly when [[mirrorToDelta]] starts writing them (every
    * [[TxTable.CheckpointInterval]] mirrored commits).
    *
    * Column-mapped tables export with `name`-mode column-mapping
    * metadata (reader 2 / writer 5): the manifest's frozen physical
    * names become `delta.columnMapping.physicalName`, so renamed
    * columns round-trip without touching a data file. Refusals (all
    * LOUD, never a broken log): an existing `_delta_log` (this is the
    * snapshot BOOTSTRAP — [[mirrorToDelta]] is the verb that follows
    * a live log) and partition-column types whose directory
    * string serialization is not canonically Delta's (export those
    * by copy). Live deletion vectors export as Delta merge-on-read
    * state: the native sidecars translate to a spec-format DV file
    * ([[writeDeltaDvFile]]) and the protocol advertises the
    * `deletionVectors` table feature (reader 3 / writer 7).
    *
    * Returns the exported Delta version (always 0). */
  def exportToDelta(): Long = {
    val m = latestVersion.map(manifest).getOrElse(
      sys.error(s"$root has no committed snapshots to export"))
    val logDir = new Path(root, "_delta_log")
    require(!fs.exists(logDir),
      s"$root already carries a _delta_log — snapshot export bootstraps " +
        "a table that is not yet a Delta mirror; mirrorToDelta() follows " +
        "a live one")
    // live deletion vectors EXPORT (reader 3 / writer 7,
    // deletionVectors table feature): the native sidecars translate
    // to one Delta-spec DV file and ride the adds as descriptors
    val schema = StructType.fromDDL(m.schemaDdl)
    val pTypes = schema.fields.filter(f => m.partitionCols.contains(f.name))
    pTypes.foreach(f => require(f.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType => true
      case _ => false
    }, s"$root: partition column ${f.name} of type ${f.dataType} — its " +
      "directory serialization is not canonically Delta's; export by copy"))
    // column-mapped AND partitioned exports fine: Delta keys
    // partitionValues by PHYSICAL name, and this engine refuses to
    // rename layout columns (layoutProtected), so a partition
    // column's physical name always equals its logical one —
    // deltaAddJson emits physical keys, which delta-spark and
    // [[DeltaLog]] both translate back. The require below is the
    // defensive tripwire for a foreign-constructed manifest where
    // the two DID diverge (this engine's verbs cannot produce one).
    require(m.partitionCols.forall(c => m.colMap.getOrElse(c, c) == c),
      s"$root: a partition column carries a diverged physical name — " +
        "this engine never produces that layout; export by copy")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val dvDescs = writeDeltaDvFile(m.files)
    val adds = m.files.map(f =>
      deltaAddJson(om, m, f, dataChange = true, dvDescs.get(f.path)))
    fs.mkdirs(logDir)
    val lines = Seq(deltaProtocolJson(om, m),
      deltaMetaDataJson(om, m, java.util.UUID.randomUUID().toString)) ++
      adds :+ deltaCommitInfoJson(om, m.version, "CONVERT TO DELTA")
    writeDeltaCommit(logDir, 0L, lines,
      LogStore.forRoot(fs, root, m.properties.get(TxTable.PropLogStore)))
    0L
  }

  /** Delta table features a manifest's mirror/export needs RIGHT NOW:
    * column mapping (name mode), live deletion vectors, and — because
    * a spec-compliant reader must learn it from the PROTOCOL, not by
    * finding a UUID manifest (the ADVICE failure: a classic-only
    * reader trusting reader 1 finds no `NNN.checkpoint.parquet` and
    * fails unrecoverably once pre-checkpoint JSON is cleaned) — the
    * v2 checkpoint layout when the table property opts into it. */
  private def deltaImpliedFeatures(m: Manifest): Set[String] = {
    val b = Set.newBuilder[String]
    if (m.colMap.nonEmpty) b += "columnMapping"
    if (m.files.exists(_.dvPath.isDefined)) b += "deletionVectors"
    if (m.properties.get(TxTable.PropMirrorCheckpointFormat).contains("v2"))
      b += "v2Checkpoint"
    b.result()
  }

  /** Delta `protocol` action for a manifest's feature set (plus
    * `carried` features the mirror's log already advertised — a
    * protocol NEVER drops a feature, per the spec, so a purged table
    * keeps advertising deletionVectors). Plain parquet → reader 1 /
    * writer 2; column mapping alone → legacy reader 2 / writer 5;
    * deletion vectors or v2 checkpoints → TABLE FEATURES (reader 3 /
    * writer 7) with every in-use feature listed in
    * `readerFeatures`/`writerFeatures` (all three are reader-writer
    * features, so the two lists coincide). Shared by
    * [[exportToDelta]], [[mirrorToDelta]] and the mirror checkpoint
    * writer so the three cannot drift. */
  private def deltaProtocolJson(
      om: com.fasterxml.jackson.databind.ObjectMapper, m: Manifest,
      carried: Set[String] = Set.empty): String = {
    val features = deltaImpliedFeatures(m) ++ carried
    val n = om.createObjectNode()
    val proto = n.putObject("protocol")
    if (features.contains("deletionVectors") ||
        features.contains("v2Checkpoint")) {
      proto.put("minReaderVersion", 3); proto.put("minWriterVersion", 7)
      val rf = proto.putArray("readerFeatures")
      features.toSeq.sorted.foreach(rf.add)
      val wf = proto.putArray("writerFeatures")
      features.toSeq.sorted.foreach(wf.add)
    } else if (features.contains("columnMapping")) {
      proto.put("minReaderVersion", 2); proto.put("minWriterVersion", 5)
    } else {
      proto.put("minReaderVersion", 1); proto.put("minWriterVersion", 2)
    }
    om.writeValueAsString(n)
  }

  /** Delta `metaData` action under the mirror's stable `tableId`:
    * logical schema (+ per-field `name`-mode mapping metadata when the
    * table carries a colMap). */
  private def deltaMetaDataJson(
      om: com.fasterxml.jackson.databind.ObjectMapper, m: Manifest,
      tableId: String): String = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val outSchema =
      if (m.colMap.isEmpty) schema
      else StructType(schema.fields.zipWithIndex.map { case (f, i) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", i + 1L)
          .putString("delta.columnMapping.physicalName",
            m.colMap.getOrElse(f.name, f.name))
          .build())
      })
    val metaNode = om.createObjectNode()
    val md = metaNode.putObject("metaData")
    md.put("id", tableId)
    val fmt = md.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    md.put("schemaString", outSchema.json)
    val pcArr = md.putArray("partitionColumns")
    m.partitionCols.foreach(pcArr.add)
    val cfg = md.putObject("configuration")
    if (m.colMap.nonEmpty) {
      cfg.put("delta.columnMapping.mode", "name")
      cfg.put("delta.columnMapping.maxColumnId",
        outSchema.fields.length.toString)
    }
    md.put("createdTime", System.currentTimeMillis())
    om.writeValueAsString(metaNode)
  }

  /** One Delta `add` action line for a manifest file entry (shared by
    * [[exportToDelta]] and [[mirrorToDelta]] so the two cannot
    * drift). */
  private def deltaAddJson(om: com.fasterxml.jackson.databind.ObjectMapper,
      m: Manifest, f: FileEntry, dataChange: Boolean,
      dv: Option[DeltaDv.Descriptor] = None): String = {
    require(!f.path.startsWith("/"),
      s"$root: ${f.path} lives OUTSIDE the table root (shallow clone) " +
        "— a Delta mirror needs table-rooted files; export by copy")
    val n = om.createObjectNode()
    val a = n.putObject("add")
    // Delta paths are URL-encoded relative URIs
    a.put("path", new java.net.URI(null, null, f.path, null).getRawPath)
    val pv = a.putObject("partitionValues")
    m.partitionCols.foreach { c =>
      // Delta keys partitionValues by PHYSICAL column name (identity
      // here unless a foreign manifest diverged them — see the
      // exportToDelta tripwire)
      val key = m.colMap.getOrElse(c, c)
      f.partition.get(c) match {
        case Some(v) if v != "__HIVE_DEFAULT_PARTITION__" => pv.put(key, v)
        case _ => pv.putNull(key)
      }
    }
    a.put("size", if (f.bytes >= 0) f.bytes
      else fs.getFileStatus(new Path(root, f.path)).getLen)
    a.put("modificationTime", f.mtimeMs)
    a.put("dataChange", dataChange)
    if (f.rows >= 0)
      a.put("stats", s"""{"numRecords":${f.rows}}""")
    // merge-on-read entry: the Delta-format descriptor (the engine's
    // native sidecar was translated by [[writeDeltaDvFile]]); stats
    // stay the file's PHYSICAL counts, per the spec — readers subtract
    // the vector's cardinality themselves
    dv.foreach { d =>
      val dn = a.putObject("deletionVector")
      dn.put("storageType", d.storageType)
      dn.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(dn.put("offset", _))
      dn.put("sizeInBytes", d.sizeInBytes)
      dn.put("cardinality", d.cardinality)
    }
    om.writeValueAsString(n)
  }

  /** Translate the native DV sidecars of `entries` into ONE Delta-spec
    * DV FILE (`deletion_vector_<uuid>.bin` at the table root — the
    * `u`-storage layout, all vectors framed at their own offsets) and
    * hand back a per-path descriptor for the `add` actions. Positions
    * come scoped per entry ([[dvPairs]]) and are cross-checked against
    * the manifest's `dvRows` bookkeeping — a mismatch means the
    * sidecar and the manifest disagree, refuse rather than publish a
    * wrong vector. Deleted-row-sized work, driver-side, one file per
    * mirror commit (external VACUUM reclaims superseded ones). */
  private def writeDeltaDvFile(
      entries: Seq[FileEntry]): Map[String, DeltaDv.Descriptor] = {
    val dved = entries.filter(f => f.dvPath.isDefined && f.dvRows > 0)
    if (dved.isEmpty) return Map.empty
    val pos = dvPairs(dved).get.collect()
      .groupBy(_.getString(0))
      .map { case (p, rows) => p -> rows.map(_.getLong(1)).sorted }
    val perEntry = dved.map { f =>
      val p = pos.getOrElse(encodedRelPath(f.path), Array.empty[Long])
      require(p.length.toLong == f.dvRows,
        s"$root: ${f.path}'s sidecar holds ${p.length} positions but the " +
          s"manifest records ${f.dvRows} deleted rows — refusing to " +
          "publish a wrong deletion vector")
      f.path -> p
    }
    val blobs = perEntry.map { case (_, p) =>
      DeltaDv.serializeBitmaps(p.toIndexedSeq) }
    val uuid = java.util.UUID.randomUUID()
    val (probe, file) = DeltaDv.uDescriptor(root, "", uuid, 0, 0, 0L)
    val offsets = DeltaDv.writeFile(fs, file, blobs)
    perEntry.zip(blobs).zip(offsets).map {
      case (((path, p), blob), off) =>
        path -> probe.copy(offset = Some(off), sizeInBytes = blob.length,
          cardinality = p.length.toLong)
    }.toMap
  }

  /** The mirror's anchor record: a Delta `commitInfo` action naming
    * the graft version this Delta commit reflects — what
    * [[mirrorToDelta]] resumes from, and the audit row delta-speaking
    * engines show as table history. */
  private def deltaCommitInfoJson(
      om: com.fasterxml.jackson.databind.ObjectMapper,
      graftVersion: Long, operation: String): String = {
    val n = om.createObjectNode()
    val ci = n.putObject("commitInfo")
    ci.put("timestamp", System.currentTimeMillis())
    ci.put("operation", operation)
    val p = ci.putObject("operationParameters")
    p.put("graftVersion", graftVersion.toString)
    ci.put("engineInfo", "graft")
    om.writeValueAsString(n)
  }

  /** Publish one mirror commit ATOMICALLY: the lines are fully
    * written to a staging file first, then claimed at the versioned
    * name through the SAME [[LogStore]] primitive as the graft commit
    * path (and as Delta's own LogStore contract) — a Delta reader
    * tailing the live mirror (the s14/s15 streams) can never observe
    * a torn commit, a crash mid-write leaves only an orphan staging
    * file (never a corrupt `_delta_log`), and two processes
    * auto-mirroring the same table race to AT MOST ONE winner per
    * version. A lost race raises loudly — the winner's commit carries
    * the same graft anchor, so the caller just resumes from the new
    * head on its next call. */
  private def writeDeltaCommit(dLogDir: Path, deltaVersion: Long,
      lines: Seq[String], store: LogStore): Unit = {
    val tmp = new Path(dLogDir,
      s".tmp-mirror-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val won = store.putIfAbsent(fs, tmp,
      new Path(dLogDir, f"$deltaVersion%020d.json"),
      fs.makeQualified(dLogDir).toString)
    if (!won) {
      fs.delete(tmp, false)
      sys.error(s"$root: a concurrent mirror writer published Delta " +
        s"version $deltaVersion first — rerun mirrorToDelta() to resume " +
        "from the new anchor")
    }
  }

  /** Incremental Delta mirroring — the maintenance verb that keeps a
    * [[exportToDelta]] mirror LIVE: publishes every graft commit made
    * since the last mirrored version as its own Delta JSON commit
    * (adds/removes diffed between consecutive manifests; schema
    * changes re-emit `metaData` under the mirror's stable table id;
    * compactions mirror with `dataChange=false` so Delta-side
    * incremental consumers skip them), so delta-speaking readers
    * (delta-spark, Trino, DuckDB delta) follow the table's history
    * instead of a stale snapshot — the engine as a continuous
    * lakehouse citizen, zero data copy. Bootstraps via
    * [[exportToDelta]] when no `_delta_log` exists yet; no-ops (and
    * returns the current Delta version) when the mirror is already
    * current. Each commit ends with a `commitInfo` action recording
    * the graft version it reflects — the anchor the next call
    * resumes from, making the mirror idempotent and crash-resumable
    * (a half-mirrored chain resumes from the last published anchor).
    *
    * Row-level deletes mirror as Delta MERGE-ON-READ state: an entry
    * whose deletion vector changed emits the remove-then-re-add-with-
    * descriptor shape (native sidecars translated per commit by
    * [[writeDeltaDvFile]]), and the FIRST DV-bearing commit prepends
    * a protocol upgrade to table features (reader 3 / writer 7,
    * `deletionVectors` listed; features are carried monotonically —
    * a later purge never narrows the protocol back down). A CDC-heavy
    * table therefore mirrors continuously, no forced purges.
    *
    * `coalesce=true` collapses the whole backlog into ONE Delta
    * commit diffing the last-mirrored manifest against the latest —
    * the escape hatch when per-version fidelity isn't worth a
    * thousand tiny commits.
    *
    * Refusals (loud, never a broken log): a `_delta_log` not written
    * by this mirror (no graft anchor in its last commit), an anchor
    * version aged out of the graft log, partition-column or
    * column-mapping changes, and schema changes on a column-mapped
    * mirror (mapping ids could not stay stable) — re-export those
    * into a fresh mirror.
    *
    * Returns the latest Delta version. */
  def mirrorToDelta(coalesce: Boolean = false): Long = {
    val latest = latestVersion.getOrElse(
      sys.error(s"$root has no committed snapshots to mirror"))
    val dLogDir = new Path(root, "_delta_log")
    if (!fs.exists(dLogDir)) { exportToDelta(); return 0L }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val deltaHead = DeltaLog.commitVersions(fs, dLogDir).lastOption.getOrElse(
      sys.error(s"$root: _delta_log holds no commits — not a mirror; remove " +
        "it or export into a fresh directory"))
    val anchor = DeltaLog.commitActions(fs, dLogDir, deltaHead).reverseIterator
      .collectFirst(Function.unlift { n =>
        Option(n.get("commitInfo"))
          .flatMap(ci => Option(ci.get("operationParameters")))
          .flatMap(p => Option(p.get("graftVersion")))
          .map(_.asText().toLong)
      })
      .getOrElse(sys.error(
        s"$root: _delta_log was not written by this engine's mirror (its " +
          "last commit carries no graft anchor) — refusing to append to a " +
          "foreign Delta log"))
    if (anchor >= latest) return deltaHead
    require(versions.contains(anchor),
      s"$root: last-mirrored graft version $anchor has aged out of the " +
        "graft log — export into a fresh mirror instead")
    // the mirror's stable metaData id and its CURRENT protocol action,
    // from the log replay (no file actions collected). A protocol never
    // drops a feature, so every later emission carries at least its
    // readerFeatures (a purge must not downgrade deletionVectors away
    // from readers), and an IDENTICAL protocol is never re-emitted
    val st = DeltaLog.replay(spark, root.toString, files = false)
    val tableId = st.metaData.map(_.get("id").asText())
      .getOrElse(sys.error(s"$root: mirror log carries no metaData"))
    var lastProtocolJson: Option[String] =
      st.protocol.map(actionLine(om, "protocol", _))
    var carriedFeatures: Set[String] = {
      import scala.jdk.CollectionConverters._
      st.protocol.flatMap(p => Option(p.get("readerFeatures")))
        .filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText()).toSet)
        .getOrElse(Set.empty[String])
    }
    val store = LogStore.forRoot(fs, root,
      manifest(latest).properties.get(TxTable.PropLogStore))
    val targets =
      if (coalesce) Seq(latest)
      else versions.filter(v => v > anchor && v <= latest).sorted
    var prev = manifest(anchor)
    var nextDelta = deltaHead + 1
    targets.foreach { gv =>
      val cur = manifest(gv)
      require(cur.partitionCols == prev.partitionCols,
        s"$root: partition columns changed at graft version $gv — a Delta " +
          "mirror cannot follow a re-layout; export into a fresh mirror")
      require(cur.colMap == prev.colMap,
        s"$root: column mapping changed at graft version $gv — mapping ids " +
          "could not stay stable; export into a fresh mirror")
      // compactions and purges rearrange bytes, not rows: Delta-side
      // incremental consumers skip dataChange=false actions. A
      // COALESCED window is a data change iff ANY collapsed version
      // was one — a backlog of pure compactions must not turn into a
      // spurious data change for Delta CDC consumers just because the
      // auto-mirror self-heal retried with coalesce
      val dataChange =
        if (coalesce)
          versions.filter(v => v > anchor && v <= latest)
            .exists(v => logEntry(v).operation != OpCompact)
        else cur.operation != OpCompact
      val prevPaths = prev.files.map(_.path).toSet
      val curPaths = cur.files.map(_.path).toSet
      val prevByPath = prev.files.map(f => f.path -> f).toMap
      // a row-level delete/merge mutates a file's DELETION VECTOR in
      // place on the graft side; Delta's equivalent is the
      // remove-then-re-add-with-descriptor shape, so entries whose
      // vector changed join BOTH the add and the remove sets
      val dvChanged = cur.files.filter(f => prevByPath.get(f.path).exists(
        pf => pf.dvPath != f.dvPath || pf.dvRows != f.dvRows))
      val adds = cur.files.filterNot(f => prevPaths(f.path)) ++ dvChanged
      val dvDescs = writeDeltaDvFile(adds)
      val lines = Seq.newBuilder[String]
      // capability bump (first live DV, a freshly opted-in v2
      // checkpoint layout): ONE protocol action before the actions
      // that need it; never re-emitted while unchanged, never narrowed
      val protoJson = deltaProtocolJson(om, cur, carriedFeatures)
      if (!lastProtocolJson.contains(protoJson)) {
        lines += protoJson
        lastProtocolJson = Some(protoJson)
        carriedFeatures = carriedFeatures ++ deltaImpliedFeatures(cur)
      }
      if (cur.schemaDdl != prev.schemaDdl) {
        require(cur.colMap.isEmpty,
          s"$root: schema change at graft version $gv on a column-mapped " +
            "mirror — mapping ids could not stay stable; export into a " +
            "fresh mirror")
        lines += deltaMetaDataJson(om, cur, tableId)
      }
      // removes BEFORE adds: reconciliation within a version is
      // order-independent per the spec (the add wins), but a
      // line-ordered reader must never see a re-add get shadowed by
      // its own remove
      (prev.files.filterNot(f => curPaths(f.path)) ++ dvChanged).foreach { f =>
        val n = om.createObjectNode()
        val r = n.putObject("remove")
        r.put("path", new java.net.URI(null, null, f.path, null).getRawPath)
        r.put("deletionTimestamp", System.currentTimeMillis())
        r.put("dataChange", dataChange)
        lines += om.writeValueAsString(n)
      }
      adds.foreach(f =>
        lines += deltaAddJson(om, cur, f, dataChange, dvDescs.get(f.path)))
      lines += deltaCommitInfoJson(om, gv,
        s"GRAFT ${cur.operation.toUpperCase(java.util.Locale.ROOT)}")
      writeDeltaCommit(dLogDir, nextDelta, lines.result(), store)
      // the mirror applies the SAME replay-amortization discipline the
      // graft log applies to itself: every CheckpointInterval Delta
      // commits, one parquet checkpoint + _last_checkpoint pointer, so
      // a long-lived auto-mirrored table hands external Delta readers
      // a bounded JSON replay — then retention-expired pre-checkpoint
      // commits are cleaned (delta.logRetentionDuration-equivalent) —
      // only once the checkpoint has landed, or cleaning would leave
      // readers a truncated log
      if (nextDelta % CheckpointInterval == 0 &&
          writeMirrorCheckpoint(dLogDir, nextDelta, cur))
        cleanMirrorLog(dLogDir, nextDelta,
          manifest(latest).properties.get(TxTable.PropMirrorLogRetention)
            .flatMap(_.toLongOption)
            .getOrElse(TxTable.MirrorLogRetentionDefaultMs))
      nextDelta += 1
      prev = cur
    }
    nextDelta - 1
  }

  /** Delta-side checkpoint of the mirror at `deltaVersion`: the
    * replayed log state ([[DeltaLog.replay]] pinned at that version)
    * written as ONE classic `NNN.checkpoint.parquet` — the single-part
    * layout every Delta reader parses — or, per
    * [[TxTable.PropMirrorCheckpointFormat]], a v2 UUID manifest plus
    * one `_sidecars/` parquet. Live `add` actions go in VERBATIM from
    * the log with `dataChange=false` (their deletion-vector
    * descriptors exist only there — the manifest holds native
    * sidecars), next to the log's latest protocol (feature-monotone)
    * and metaData. Unexpired `remove` tombstones are CARRIED FORWARD
    * (Delta spec: checkpoint state includes tombstones younger than
    * [[TxTable.PropMirrorTombstoneRetention]], default Delta's 7-day
    * `deletedFileRetentionDuration`, so a spec-strict reader's VACUUM
    * sees just-removed files even after pre-checkpoint commits are
    * cleaned); a re-added path clears its tombstone in the replay.
    *
    * Returns true iff a readable checkpoint for `deltaVersion` exists
    * afterwards (written here or by a racing mirror); only then does
    * the `_last_checkpoint` pointer advance, and only then may the
    * caller clean the log. Best-effort otherwise: the Delta commit
    * this checkpoint trails is already durably published, so ANY
    * failure here returns false — readers replay more JSON commits
    * and the next interval tries again. */
  private def writeMirrorCheckpoint(dLogDir: Path, deltaVersion: Long,
      m: Manifest): Boolean = try {
    import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType,
      LongType, MapType, StringType => SStringType, StructField}
    val st = DeltaLog.replay(spark, root.toString, atVersion = Some(deltaVersion))
    // classic single-part (every reader, the default) or V2 (the
    // 2024+ DBR writer default) per table property — a misconfigured
    // value falls back to classic WITH a warning rather than silently
    // never checkpointing
    val format = m.properties
      .getOrElse(TxTable.PropMirrorCheckpointFormat, "classic") match {
      case f @ ("classic" | "v2") => f
      case other =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$root: unknown ${TxTable.PropMirrorCheckpointFormat}=" +
            s"'$other' — writing a classic checkpoint")
        "classic"
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val horizon = System.currentTimeMillis() -
      m.properties.get(TxTable.PropMirrorTombstoneRetention)
        .flatMap(_.toLongOption)
        .getOrElse(TxTable.MirrorTombstoneRetentionDefaultMs)
    val addLines = st.adds.values.map { a =>
      val c = a.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      c.put("dataChange", false)
      actionLine(om, "add", c)
    }.toSeq
    val tombstoneLines = st.tombstones.collect {
      case (p, (ts, dc)) if ts >= horizon =>
        val n = om.createObjectNode()
        val r = n.putObject("remove")
        r.put("path", p) // already URL-encoded in the source action
        r.put("deletionTimestamp", ts)
        r.put("dataChange", dc)
        om.writeValueAsString(n)
    }.toSeq
    val fileActionLines = addLines ++ tombstoneLines
    val protocolLine = actionLine(om, "protocol", st.protocol.getOrElse(
      sys.error(s"$root: mirror log carries no protocol")))
    val metaDataLine = actionLine(om, "metaData", st.metaData.getOrElse(
      sys.error(s"$root: mirror log carries no metaData")))
    val strMap = MapType(SStringType, SStringType, valueContainsNull = true)
    val protocolField = StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(SStringType)),
      StructField("writerFeatures", ArrayType(SStringType)))))
    val metaDataField = StructField("metaData", StructType(Seq(
      StructField("id", SStringType),
      StructField("format", StructType(Seq(
        StructField("provider", SStringType),
        StructField("options", strMap)))),
      StructField("schemaString", SStringType),
      StructField("partitionColumns", ArrayType(SStringType)),
      StructField("configuration", strMap),
      StructField("createdTime", LongType))))
    val fileActionFields = Seq(
      StructField("add", StructType(Seq(
        StructField("path", SStringType),
        StructField("partitionValues", strMap),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", SStringType),
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", SStringType),
          StructField("pathOrInlineDv", SStringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType))))))),
      StructField("remove", StructType(Seq(
        StructField("path", SStringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))))
    // JSON-lines → explicit schema → ONE parquet file, renamed into
    // place (UUID tmp dir; a racing writer's rename loses harmlessly);
    // true iff the file landed at `dst`
    def writeOneParquet(lines: Seq[String], schema: StructType,
        dst: Path): Boolean = {
      val ds = spark.createDataset(lines)(
        org.apache.spark.sql.Encoders.STRING)
      val tmpDir = new Path(root,
        s".tmp-delta-ckpt-${java.util.UUID.randomUUID()}")
      try {
        spark.read.schema(schema).json(ds).coalesce(1)
          .write.parquet(tmpDir.toString)
        fs.listStatus(tmpDir).map(_.getPath)
          .find(p => p.getName.startsWith("part-") &&
            p.getName.endsWith(".parquet"))
          .exists(fs.rename(_, dst))
      } finally { fs.delete(tmpDir, true); () }
    }
    val landed =
      if (format == "classic") {
        val dst = new Path(dLogDir, f"$deltaVersion%020d.checkpoint.parquet")
        fs.exists(dst) || writeOneParquet(
          Seq(protocolLine, metaDataLine) ++ fileActionLines,
          StructType(Seq(protocolField, metaDataField) ++ fileActionFields),
          dst)
      } else {
        // V2: file actions go to ONE sidecar parquet under _sidecars/
        // (version-prefixed name so log cleaning can match it without
        // reading the manifest back); the UUID-named manifest carries
        // checkpointMetadata + protocol + metaData + the sidecar
        // pointer. The sidecar lands BEFORE the manifest that names it
        // — a crash between the two leaves an orphan sidecar (cleaned
        // by retention), never a manifest naming a missing file.
        val already = fs.listStatus(dLogDir).exists(s =>
          s.getPath.getName match {
            case DeltaLog.V2CheckpointName(v) => v.toLong == deltaVersion
            case _                            => false
          })
        already || {
          val uuid = java.util.UUID.randomUUID().toString
          val scDir = new Path(dLogDir, "_sidecars")
          val scName = f"$deltaVersion%020d-$uuid.parquet"
          val scDst = new Path(scDir, scName)
          fs.mkdirs(scDir) && writeOneParquet(fileActionLines,
            StructType(fileActionFields), scDst) && {
            val cm = om.createObjectNode()
            cm.putObject("checkpointMetadata").put("version", deltaVersion)
            val sc = om.createObjectNode()
            val scN = sc.putObject("sidecar")
            scN.put("path", scName)
            val scStatus = fs.getFileStatus(scDst)
            scN.put("sizeInBytes", scStatus.getLen)
            scN.put("modificationTime", scStatus.getModificationTime)
            val mfSchema = StructType(Seq(
              StructField("checkpointMetadata", StructType(Seq(
                StructField("version", LongType)))),
              protocolField, metaDataField,
              StructField("sidecar", StructType(Seq(
                StructField("path", SStringType),
                StructField("sizeInBytes", LongType),
                StructField("modificationTime", LongType))))))
            writeOneParquet(Seq(om.writeValueAsString(cm), protocolLine,
                metaDataLine, om.writeValueAsString(sc)), mfSchema,
              new Path(dLogDir, f"$deltaVersion%020d.checkpoint.$uuid.parquet"))
          }
        }
      }
    // the pointer advances monotonically, never regresses to an older
    // checkpoint (two racing mirrors may checkpoint out of order); an
    // unreadable pointer is overwritten
    if (landed && scala.util.Try(DeltaLog.checkpointPointer(fs, dLogDir))
        .toOption.flatten.forall(_._1 < deltaVersion)) {
      val n = om.createObjectNode()
      n.put("version", deltaVersion)
      n.put("size", 2L + fileActionLines.size)
      val out = fs.create(new Path(dLogDir, "_last_checkpoint"), true)
      try out.write(om.writeValueAsString(n)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    landed
  } catch { case scala.util.control.NonFatal(_) => false }

  /** One Delta log line wrapping an action body: `{"<kind>": body}`. */
  private def actionLine(om: com.fasterxml.jackson.databind.ObjectMapper,
      kind: String, body: com.fasterxml.jackson.databind.JsonNode): String = {
    val w = om.createObjectNode(); w.set(kind, body)
    om.writeValueAsString(w)
  }

  /** Mirror-log retention (the `delta.logRetentionDuration`
    * equivalent): delete pre-checkpoint commits and superseded
    * checkpoints older than the horizon. Only versions STRICTLY below
    * the just-landed checkpoint are candidates, so the reader's
    * contiguity invariant (first post-checkpoint commit =
    * checkpoint + 1) and the mirror's own anchor discovery (the
    * newest JSON commit) survive any cleaning schedule. */
  private def cleanMirrorLog(dLogDir: Path, cpVersion: Long,
      retentionMs: Long): Unit = try {
    val horizon = System.currentTimeMillis() - retentionMs
    def clean(dir: Path, versionOf: String => Option[Long]): Unit =
      fs.listStatus(dir).foreach { st =>
        if (versionOf(st.getPath.getName).exists(_ < cpVersion) &&
            st.getModificationTime < horizon) {
          fs.delete(st.getPath, false); ()
        }
      }
    clean(dLogDir, DeltaLog.logFileVersion)
    // v2 sidecars carry their version as a name prefix precisely so
    // retention can clean them without reading superseded manifests
    val scDir = new Path(dLogDir, "_sidecars")
    if (fs.exists(scDir)) {
      val scName = """(\d{20})-.*\.parquet""".r
      clean(scDir, { case scName(v) => Some(v.toLong); case _ => None })
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  private def commitClone(src: Manifest, files: Seq[FileEntry]): Long =
    commit { latest =>
      require(latest.isEmpty,
        s"$root gained a snapshot during clone — clone into a fresh directory")
      Pending(TxTable.OpClone, src.schemaDdl, src.partitionCols,
        src.bucketSpec, None, files, properties = Some(src.properties),
        colMap = Some(src.colMap), retired = Some(src.retired))
    }

  /** Rewrite the current snapshot into ~`targetFileBytes` files and
    * commit the rewrite as a new snapshot — the transactional twin of
    * [[ParquetIOManager.compact]]'s rename swap: here there is no
    * swap window at all, readers flip manifests or keep the old one.
    * Partitioned/bucketed layouts are preserved. */
  def compact(targetFileBytes: Long = DefaultTargetFileBytes): Long = {
    val v = latestVersion.getOrElse(sys.error(s"$root: nothing to compact"))
    val m = manifest(v)
    rewriteFiles(m, m.files, targetFileBytes)()
  }

  /** Purge deletion vectors: rewrite ONLY the files whose deleted
    * fraction (dvRows / rows) reaches `minDeletedFraction`, dropping
    * their vectors; every other file — vectored or not — carries by
    * reference. The `REORG TABLE ... APPLY (PURGE)` maintenance verb:
    * reclaims the space and the read-side anti-join of heavily
    * deleted files without paying a full [[compact]]. Files with an
    * unknown row count (stats-off writes) purge whenever they carry a
    * vector — the conservative direction. Survivors are sized like
    * any compaction output (~128 MB files, hashed by partition), not
    * left in the anti-join's scan split. Commits as a compact
    * (dataChange=false: the rows a reader sees are identical before
    * and after), so change feeds skip it. */
  def purgeDeletes(minDeletedFraction: Double = 0.05): Long = {
    require(minDeletedFraction >= 0 && minDeletedFraction <= 1,
      "minDeletedFraction must be in [0, 1]")
    val v = latestVersion.getOrElse(sys.error(s"$root: nothing to purge"))
    val m = manifest(v)
    val purge = m.files.filter(f => f.dvPath.isDefined &&
      (f.rows <= 0 || f.dvRows.toDouble / f.rows >= minDeletedFraction))
    if (purge.isEmpty) return v
    rewriteFiles(m, purge, DefaultTargetFileBytes)()
  }

  /** The OPTIMIZE entry point: z-order along the table's
    * [[TxTable.PropZOrderColumns]] property when set (the table
    * remembers its own clustering policy — maintenance jobs need no
    * per-table configuration; clustering is global by nature, so it
    * rewrites the snapshot), INCREMENTAL small-file compaction
    * ([[compactSmall]]) otherwise — the Delta OPTIMIZE semantics:
    * maintenance cost ∝ small-file debt, never O(table). */
  def optimize(targetFileBytes: Long = DefaultTargetFileBytes,
      partitionEq: Map[String, String] = Map.empty): Long = {
    val zcols = latestVersion.map(v => manifest(v).properties
        .getOrElse(TxTable.PropZOrderColumns, ""))
      .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (zcols.nonEmpty) compactZOrder(zcols, targetFileBytes, partitionEq)
    else compactSmall(targetFileBytes, partitionEq = partitionEq)
  }

  /** Validate + case-normalize an OPTIMIZE WHERE partition-equality
    * scope against the layout (the Delta rule: the predicate may
    * reference partition columns only — anything else must error, not
    * silently rewrite the whole table). */
  private def resolvePartitionScope(m: Manifest,
      partitionEq: Map[String, String]): Map[String, String] =
    partitionEq.map { case (k, v) =>
      m.partitionCols.find(_.equalsIgnoreCase(k)).getOrElse(sys.error(
        s"$root: OPTIMIZE WHERE references '$k' — only partition " +
          s"columns (${m.partitionCols.mkString(", ")}) can scope a " +
          "compaction; non-partition predicates would make file " +
          "selection row-dependent")) -> v
    }

  private def inScope(f: FileEntry, scope: Map[String, String]): Boolean =
    scope.forall { case (k, v) => f.partition.get(k).contains(v) }

  /** Incremental bin-packing compaction (what a bare Delta `OPTIMIZE`
    * actually does): rewrite ONLY the files below `targetFileBytes` —
    * plus any file carrying a deletion vector, whose rewrite also
    * purges the vector — into ~targetFileBytes outputs; every
    * already-compact file carries into the new snapshot by reference,
    * byte-identical. On a 10⁶-file table a nightly OPTIMIZE therefore
    * costs O(yesterday's small appends), not O(table) — the property
    * that makes routine maintenance affordable at scale ([[compact]]
    * stays available as the full rewrite). Needs at least `minFiles`
    * qualifying files (rewriting one buys nothing); otherwise commits
    * NOTHING and returns the current version. Commits as a compact
    * (dataChange=false: visible rows identical), so change feeds skip
    * it. Partitioned/bucketed layouts are preserved — rewritten rows
    * re-shadow their partition dirs and recompute their buckets from
    * the data. */
  def compactSmall(targetFileBytes: Long = DefaultTargetFileBytes,
      minFiles: Int = 2, smallFileBytes: Long = -1L,
      partitionEq: Map[String, String] = Map.empty): Long = {
    require(minFiles >= 2, "minFiles < 2 would rewrite lone files for nothing")
    // the debt cutoff sits BELOW the output target (half by default —
    // the Delta minFileSize/maxFileSize split): an output at ~target
    // must never re-qualify as debt, or every OPTIMIZE would rewrite
    // yesterday's outputs forever
    val cutoff = if (smallFileBytes > 0) smallFileBytes else targetFileBytes / 2
    val v = latestVersion.getOrElse(sys.error(s"$root: nothing to compact"))
    val m = manifest(v)
    // OPTIMIZE WHERE: out-of-scope partitions carry by reference —
    // a nightly per-partition OPTIMIZE on a date-partitioned table
    // touches yesterday's dir only, never the historical tail
    val scope = resolvePartitionScope(m, partitionEq)
    val small = m.files.filter(f =>
      inScope(f, scope) && (fileBytes(f) < cutoff || f.dvPath.isDefined))
    if (small.size < minFiles) return v
    rewriteFiles(m, small, targetFileBytes)()
  }

  /** Z-order clustering compaction: rewrite the current snapshot
    * ordered along the Morton curve over `zCols`, so per-file
    * [min,max] ranges stay tight in EVERY listed dimension and
    * [[readWhereRange]] skips files for predicates on ANY of them —
    * multi-dimensional data skipping, where a plain sort only serves
    * its leading column.
    *
    * Curve coordinates are min/max-normalized 16-bit ranks over a
    * per-type monotone numeric projection: numerics cast to double,
    * dates/timestamps to their epoch value, strings to their first
    * six UTF-8 bytes as an unsigned integer (exact in a double;
    * monotone in the same unsigned-byte order the string stats use —
    * the scalable stand-in for a global dictionary rank, which would
    * cost a global sort). The z-value itself is pure column
    * arithmetic (magic-number bit spreading — codegen'd, no UDF).
    *
    * On a hive-partitioned table the curve clusters WITHIN each
    * partition (range-partition and sort by partition values first,
    * z-value second) — partition pruning keeps serving the layout
    * columns, the curve serves the rest. Bucketed tables are refused:
    * the bucket function owns the file mapping. The rewrite commits
    * like any [[compact]] — readers flip manifests, never block. */
  def compactZOrder(zCols: Seq[String],
      targetFileBytes: Long = DefaultTargetFileBytes,
      partitionEq: Map[String, String] = Map.empty): Long = {
    require(zCols.size >= 2 && zCols.size <= 3,
      "z-order needs 2..3 columns (16-bit ranks × stride stay " +
        "inside a positive long)")
    val v = latestVersion.getOrElse(sys.error(s"$root: nothing to compact"))
    val m = manifest(v)
    require(m.bucketSpec.isEmpty,
      s"$root: z-order compaction is for flat/partitioned tables (the " +
        "bucket function owns the file mapping on bucketed tables)")
    require(zCols.forall(c => !m.partitionCols.exists(_.equalsIgnoreCase(c))),
      s"$root: z-order columns overlap the partition layout — partition " +
        "pruning already serves those; curve the remaining dimensions")
    // OPTIMIZE WHERE ... ZORDER BY: only the scoped partitions
    // re-cluster (curve bounds come from their own values — the curve
    // is per-partition anyway); everything else carries by reference
    val scope = resolvePartitionScope(m, partitionEq)
    val scoped = m.files.filter(inScope(_, scope))
    // a bare OPTIMIZE of an empty z-ordered table (zero files, or only
    // empty files — an empty overwrite still lands one) is a clean
    // no-op; the error is reserved for an explicit WHERE that matches
    // nothing
    if (partitionEq.isEmpty && (m.files.isEmpty ||
        (scoped.forall(_.rows <= 0) && readEntries(m, scoped).isEmpty)))
      return v
    require(scoped.nonEmpty,
      s"$root: OPTIMIZE WHERE matches no files (scope $scope)")
    import org.apache.spark.sql.functions.{lit => flit, min => fmin, max => fmax}
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    // per-type MONOTONE numeric projection — the curve only needs
    // order, not values; anything order-preserving into a double works
    def coord(c: String): Column = {
      val f = tableSchema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(sys.error(s"$root has no column $c"))
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(c).cast("double")
        case org.apache.spark.sql.types.DateType =>
          org.apache.spark.sql.functions.unix_date(col(c)).cast("double")
        case org.apache.spark.sql.types.TimestampType => col(c).cast("double")
        case StringType =>
          // first 6 UTF-8 bytes as an unsigned 48-bit integer: exact
          // in a double, monotone in unsigned-byte order (shorter
          // strings zero-pad, sorting first — same order as statCmp)
          org.apache.spark.sql.functions.conv(
            org.apache.spark.sql.functions.rpad(
              org.apache.spark.sql.functions.hex(
                org.apache.spark.sql.functions.encode(col(c), "UTF-8")),
              12, "0").substr(1, 12), 16, 10).cast("double")
        case dt => sys.error(s"z-order column $c is ${dt.simpleString} — " +
          "curve coordinates must be numeric, date/timestamp, or string")
      }
    }
    // Morton spread of a 16-bit value to every zCols.size-th bit
    // (the standard magic-number dilation, generalized to stride k)
    def spread(x0: Column, k: Int): Column =
      (0 until 16).map { bit =>
        org.apache.spark.sql.functions.shiftleft(
          org.apache.spark.sql.functions.shiftright(x0, bit)
            .bitwiseAND(flit(1L)), bit * k)
      }.reduce(_ bitwiseOR _)
    def zLayout(base: DataFrame, n: Int): DataFrame = {
      // normalization bounds: one tiny agg over the projections
      val aggExprs = zCols.flatMap(c => Seq(fmin(coord(c)), fmax(coord(c))))
      val bounds = base.agg(aggExprs.head, aggExprs.tail: _*).head()
      def rank16(c: String, i: Int): Column = {
        require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
          s"$root: z-order column $c has no non-null values")
        val lo = bounds.getDouble(2 * i)
        val hi = bounds.getDouble(2 * i + 1)
        require(!lo.isNaN && !hi.isNaN,
          s"$root: z-order column $c bound is NaN — a NaN coordinate " +
            "would silently corrupt the curve; filter or repair first")
        val span = if (hi > lo) hi - lo else 1.0
        // clamp: out-of-range inputs (incl. NaN rows, which cast to 0)
        // stay inside the 16-bit rank domain instead of wrapping the
        // curve non-monotonically
        org.apache.spark.sql.functions.least(
          org.apache.spark.sql.functions.greatest(
            ((coord(c) - flit(lo)) / flit(span) * flit(65535.0))
              .cast("long"), flit(0L)), flit(65535L))
      }
      val z = zCols.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.functions.shiftleft(
          spread(rank16(c, i), zCols.size), i)
      }.reduce(_ bitwiseOR _)
      // partition values lead the clustering keys so each write task
      // holds whole (partition, z-range) runs: files stay per-partition
      // AND z-tight within it
      val clusterKeys = m.partitionCols.map(col) :+ col(ZTmpCol)
      base.withColumn(ZTmpCol, z)
        .repartitionByRange(n, clusterKeys: _*)
        .sortWithinPartitions(clusterKeys: _*)
        .drop(ZTmpCol)
    }
    rewriteFiles(m, scoped, targetFileBytes)(zLayout)
  }

  /** The one file-rewrite step behind [[compact]], [[compactSmall]],
    * [[purgeDeletes]] and [[compactZOrder]]: each verb only picks the
    * files to `rewrite`; every other file carries by reference. Reads
    * the rewritten files with their deletion vectors applied
    * (survivors only), recomputes buckets, lays the rows out into
    * ~`targetFileBytes` outputs (`layout` gets the frame and the
    * output count; by default a hash on the partition columns), and
    * commits the outputs in their place as a compact of snapshot `m` —
    * dataChange=false, so change feeds skip it. The commit keeps the
    * snapshot's schema: a rewrite changes no column. The outputs hold
    * exactly the rewritten rows, so a racing commit that left those
    * files untouched rebases ([[commitRowLevel]]). */
  private def rewriteFiles(m: Manifest, rewrite: Seq[FileEntry],
      targetFileBytes: Long)(
      layout: (DataFrame, Int) => DataFrame = (df, n) =>
        if (m.partitionCols.isEmpty) df.repartition(n)
        else df.repartition(n, m.partitionCols.map(col): _*)): Long = {
    val base = readEntries(m, rewrite)
    val laid = m.bucketSpec.fold(base)(withBucket(base, _))
    val n = math.max(1, math.ceil(
      rewrite.map(fileBytes).sum.toDouble / targetFileBytes).toInt)
    val (files, _) = writeDataFiles(layout(laid, n), m.partitionCols)
    commitRowLevel(OpCompact, m, rewrite, files, m.schemaDdl, None, None,
      _ => false)
  }

  /** A file's recorded size; a stat for entries that predate it. */
  private def fileBytes(f: FileEntry): Long =
    if (f.bytes >= 0) f.bytes
    else fs.getFileStatus(new Path(root, f.path)).getLen

  /** Commit history, oldest first — the DESCRIBE HISTORY surface
    * (version, operation, live file count, files/bytes ADDED by the
    * commit — the per-commit write cost, straight from its delta)
    * a transactional table owes its operators; reads only the
    * (small) log entries. */
  def history(): Seq[(Long, String, Int, Int, Long)] =
    versions.map { v =>
      val m = manifest(v)
      val add = logEntry(v).add
      (m.version, m.operation, m.files.size, add.size,
        add.map(f => math.max(f.bytes, 0L)).sum)
    }

  // ---- maintenance --------------------------------------------------------

  /** Drop log entries older than the `keepLast` most recent (always
    * keeps the latest). Time travel to an expired version then fails;
    * its files become vacuumable if nothing else references them.
    *
    * Delta logs make expiry two-phase: the oldest KEPT version must
    * stay reconstructible after its predecessors vanish, so a
    * checkpoint is forced there first (no-op when one exists); only
    * then do the older deltas + checkpoints die. */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val vs = versions
    val drop = vs.dropRight(keepLast)
    if (drop.nonEmpty) {
      val oldestKept = vs(vs.length - keepLast)
      if (!fs.exists(checkpointPath(oldestKept)))
        writeCheckpoint(manifest(oldestKept))
      require(fs.exists(checkpointPath(oldestKept)),
        s"$root: could not checkpoint version $oldestKept — expiry would " +
          "orphan the retained snapshots; retry")
      drop.foreach { v =>
        fs.delete(manifestPath(v), false)
        fs.delete(checkpointPath(v), false)
      }
    }
    drop
  }

  /** Delete every file under `data/` referenced by NO live manifest,
    * plus stale `.tmp-*` manifests — debris from crashed writes and
    * expired snapshots. `minAgeMs` protects in-flight writers (a
    * writer's data files exist before its commit): only files older
    * than the horizon die. Tests pass 0; production keeps the
    * default (the Delta-vacuum retention discipline,
    * `pipes/utils.py:85-89`). Returns deleted paths. */
  def vacuum(minAgeMs: Long = 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    // live = every path referenced by any retained snapshot. With a
    // delta log that's the union of retained ADDS plus retained
    // checkpoint listings — sound because a path present
    // in state(v) was either added by a retained delta or already
    // live at the expiry-forced checkpoint below it (removed files
    // never re-enter: write-once paths). One pass over the log, no
    // per-version snapshot reconstruction.
    // deletion-vector side-files are live exactly as long as an entry
    // referencing them is — same rule as data files
    def withDv(es: Seq[FileEntry]): Seq[String] =
      es.map(_.path) ++ es.flatMap(_.dvPath) ++ es.flatMap(_.bloomSidecar)
    val live: Set[String] = versions.flatMap { v =>
      // CDC files are referenced ONLY by their commit's delta — they
      // live exactly as long as the log entry that could serve them
      val delta = logEntry(v)
      val entryPaths = withDv(delta.add) ++ delta.cdc.getOrElse(Nil).map(_.path)
      val ckptPaths =
        if (fs.exists(checkpointPath(v)))
          withDv(Manifest.fromJson(readLogFile(checkpointPath(v))).files)
        else Nil
      entryPaths ++ ckptPaths
    }.toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    // Discovery and deletion run on a bounded pool (the deepCloneTo
    // discipline): at the 10⁶-file tables the checkpointed log is
    // designed for, a serial driver list+delete is hours while the
    // per-call latency — not bandwidth — is the whole cost. Three
    // phases: (1) each top-level write dir lists its subtree in its
    // own task (recursion stays INSIDE the task — no recursive
    // submit-and-block against a fixed pool); (2) dead files delete
    // in parallel chunks; (3) emptied dirs sweep bottom-up, judged by
    // their PRE-sweep mtimes (the retention horizon protects
    // in-flight writers' freshly created dirs exactly like files).
    val dead = new java.util.concurrent.ConcurrentLinkedQueue[(Path, String)]()
    val dirsSeen =
      new java.util.concurrent.ConcurrentLinkedQueue[(Path, Long, Int)]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())))
    def fileCase(st: org.apache.hadoop.fs.FileStatus): Unit = {
      val rel = relativize(st.getPath)
      if (!live.contains(rel) && st.getModificationTime < cutoff)
        dead.add((st.getPath, rel))
    }
    def walk(st: org.apache.hadoop.fs.FileStatus, depth: Int): Unit =
      if (st.isDirectory) {
        dirsSeen.add((st.getPath, st.getModificationTime, depth))
        fs.listStatus(st.getPath).foreach(walk(_, depth + 1))
      } else fileCase(st)
    try {
      val top: Seq[org.apache.hadoop.fs.FileStatus] =
        if (fs.exists(dataDir)) fs.listStatus(dataDir).toIndexedSeq else Nil
      val walks = top.map(st => pool.submit(new Runnable {
        override def run(): Unit = walk(st, 1)
      }))
      // converted-in-place originals live at the ROOT — same liveness
      // rule once nothing references them
      fs.listStatus(root).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) fileCase(st)
      }
      if (fs.exists(logDir)) fs.listStatus(logDir).foreach { st =>
        if (st.getPath.getName.startsWith(".tmp-") &&
            st.getModificationTime < cutoff)
          dead.add((st.getPath, relativize(st.getPath)))
      }
      walks.foreach(_.get()) // propagate the first listing failure
      import scala.jdk.CollectionConverters._
      val deadSeq = dead.iterator().asScala.toIndexedSeq
      if (!dryRun) {
        val deletes = deadSeq.grouped(256).toSeq.map(chunk =>
          pool.submit(new Runnable {
            override def run(): Unit =
              chunk.foreach { case (p, _) => fs.delete(p, false) }
          }))
        deletes.foreach(_.get())
        // bottom-up: a dir whose subtree just emptied dies too
        dirsSeen.iterator().asScala.toIndexedSeq.sortBy(-_._3).foreach {
          case (p, mtime, _) =>
            if (mtime < cutoff &&
                (try fs.listStatus(p).isEmpty
                 catch { case _: java.io.FileNotFoundException => false })) {
              fs.delete(p, false); ()
            }
        }
      }
      deadSeq.map(_._2)
    } finally pool.shutdown()
  }

  // ---- native V2 row-level operations (SupportsDelta / WriteDelta) --------

  /** Everything the V2 catalog's EXECUTOR-SIDE delta writers need,
    * resolved once driver-side when Spark builds the
    * `WriteDelta` write (see [[graft.sources.GraftCatalog]]'s
    * `SupportsRowLevelOperations`): the base snapshot the operation
    * scanned, the full file schema in PHYSICAL names (what the data
    * files carry), the layout (hive partition columns / bucket spec),
    * and parquet write confs for data files and deletion-vector
    * fragments. All fields serializable — the handle itself never
    * ships to executors. */
  private[graft] def deltaWriteContext(baseVersion: Long)
      : TxTable.DeltaWriteContext = {
    val m = manifest(baseVersion)
    val full = StructType.fromDDL(m.schemaDdl)
    val phys = StructType(full.fields.map(f =>
      f.copy(name = physNameOf(m, f.name))).toSeq)
    TxTable.DeltaWriteContext(
      rootStr = fs.makeQualified(root).toString,
      writeId = java.util.UUID.randomUUID().toString.take(12),
      baseVersion = baseVersion,
      fullLogicalSchema = full,
      physWriteSchema = phys,
      partitionCols = m.partitionCols,
      bucketSpec = m.bucketSpec.map(s => (s.cols, s.n)),
      dataConf = org.apache.spark.sql.graft.V2Shims
        .parquetWriteConf(spark, phys),
      fragConf = org.apache.spark.sql.graft.V2Shims
        .parquetWriteConf(spark, TxTable.dvFragSchema))
  }

  /** Publish one NATIVE row-level operation (`WriteDelta`) as a
    * single commit: the task-written deletion-vector fragments fold —
    * together with the affected files' PRIOR vectors — into one DV
    * side-file (the [[deleteWhere]] merge-on-read discipline,
    * O(changed rows) always), the task-written data files become
    * manifest entries with full zone-map stats, CHECK / NOT NULL
    * invariants re-validate over exactly the new rows, and CDF
    * handles capture delete / update_preimage / update_postimage /
    * insert images. All paths come from task COMMIT messages — stray
    * files from aborted attempts never enter the manifest
    * ([[entriesOfDir]]'s `only` filter).
    *
    * Concurrency is [[commitRowLevel]]'s rule. An append reads
    * nothing, so it rebases over any racing commit that kept the
    * schema, layout and invariants. DELETE / UPDATE / MERGE count
    * EVERY base file as read: Spark's plan does not say which files
    * it scanned (an insert-only MERGE decides NOT MATCHED from files
    * it never re-tags), so a racing commit that changed or added any
    * file refuses. DV keys are manifest entry paths (agreeing with the
    * raw `_metadata` extraction for un-encoded paths, the same
    * assumption [[morRewrite]] makes). */
  private[graft] def commitDeltaNative(ctx: TxTable.DeltaWriteContext,
      op: String, insertFiles: Seq[String], updateFiles: Seq[String],
      deleteFrags: Seq[String], updateFrags: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    val newPaths = insertFiles ++ updateFiles
    val frags = deleteFrags ++ updateFrags
    val fragTmp = new Path(root, s"tmp/dvfrag-${ctx.writeId}")
    if (newPaths.isEmpty && frags.isEmpty) {
      fs.delete(fragTmp, true)
      return ctx.baseVersion
    }
    val m = manifest(ctx.baseVersion)
    def readFrags(ps: Seq[String]): DataFrame =
      spark.read.schema(TxTable.dvFragSchema)
        .parquet(ps.map(p => new Path(root, p).toString): _*)

    // -- fold fresh deletions into ONE deletion vector ----------------------
    val (retaggedPaths, retagged) =
      if (frags.isEmpty) (Set.empty[String], Nil)
      else {
        val fresh = readFrags(frags)
        val freshCounts = fresh.groupBy(col(DvPathCol))
          .agg(fcount(flit(1)).as("n")).collect()
          .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
        val byPath = m.files.map(f => f.path -> f).toMap
        freshCounts.keys.foreach(p => require(byPath.contains(p),
          s"$root: native $op references unknown data file $p"))
        val affected = m.files.filter(f => freshCounts.contains(f.path))
        (freshCounts.keySet, foldDv(affected, fresh, freshCounts))
      }

    // -- new data files → manifest entries with stats, invariants ----------
    val newEntries = nativeEntries(ctx, newPaths)
    validateNewRows(m, newEntries)

    // -- CDF capture ----------------------------------------------------------
    val cdcFiles: Option[Seq[FileEntry]] =
      if (!effCdf(m)) None
      else Some {
        def preimages(fragPs: Seq[String], tag: String): Option[DataFrame] =
          if (fragPs.isEmpty) None
          else {
            val fr = readFrags(fragPs)
            val touched = fr.select(col(DvPathCol)).distinct()
              .collect().map(_.getString(0)) // ≤ affected file count
            val tagged = spark.read.schema(physSchemaOf(m))
              .parquet(touched.map(p => new Path(root, p).toString): _*)
              .withColumn(DvPathCol, relDataPath)
              .withColumn(DvPosCol, col("_metadata.row_index"))
            val hit = tagged.join(fr, Seq(DvPathCol, DvPosCol), "left_semi")
              .drop(DvPathCol, DvPosCol)
            Some(toLogicalDf(hit, m).drop(BucketCol)
              .withColumn(ChangeTypeCol, flit(tag)))
          }
        def images(es: Seq[FileEntry], tag: String): Option[DataFrame] =
          if (es.isEmpty) None
          else Some(readEntries(m, es).withColumn(ChangeTypeCol, flit(tag)))
        val newByPath = newEntries.map(e => e.path -> e).toMap
        val parts = Seq(
          preimages(deleteFrags, "delete"),
          preimages(updateFrags, "update_preimage"),
          images(updateFiles.flatMap(newByPath.get), "update_postimage"),
          images(insertFiles.flatMap(newByPath.get), "insert")).flatten
        if (parts.isEmpty) Nil
        else writeDataFiles(parts.reduce(_.unionByName(_)), Nil,
          withStats = false, enforce = false)._1
      }

    val out =
      if (op == OpAppend)
        commitRowLevel(op, m, Nil, newEntries, m.schemaDdl, None, cdcFiles,
          _ => false)
      else
        commitRowLevel(op, m, m.files,
          m.files.filterNot(f => retaggedPaths(f.path)) ++ retagged ++
            newEntries, m.schemaDdl, None, cdcFiles, _ => true)
    fs.delete(fragTmp, true)
    out
  }

  /** Publish a NATIVE V2 batch write (plain append / full overwrite)
    * as one commit — the executor-side writer path ([[GraftRowLevel]]'s
    * task parquet writers with layout routing) applied to the
    * `AppendData` / `OverwriteByExpression(true)` plans, retiring the
    * `V1Write`/`InsertableRelation` fallback for them: per-task commit
    * messages carry exactly the written files, stats/invariants/CDF
    * run once on the driver, stray files from aborted attempts never
    * enter the manifest.
    *
    *  - append: delegates to [[commitDeltaNative]] with only inserts —
    *    an append IS a delta write with an empty removal set (same
    *    entry building, invariant re-validation, CDF insert images;
    *    it rebases over racing commits like the driver-side append).
    *  - replaceAll: the new files REPLACE the snapshot (the
    *    `INSERT OVERWRITE` / truncate-overwrite semantics); CDF is not
    *    captured, matching the driver-side overwrite (a rewrite is the
    *    change feed's documented reset point). An empty task output is
    *    a legitimate truncate. Every base file is replaced, so any
    *    racing commit that changed or added a file refuses. */
  private[graft] def commitBatchNative(ctx: TxTable.DeltaWriteContext,
      files: Seq[String], replaceAll: Boolean): Long = {
    if (!replaceAll)
      return commitDeltaNative(ctx, OpAppend, files, Nil, Nil, Nil)
    val m = manifest(ctx.baseVersion)
    val newEntries = nativeEntries(ctx, files)
    validateNewRows(m, newEntries)
    commitRowLevel(OpOverwrite, m, m.files, newEntries, m.schemaDdl, None,
      None, _ => true)
  }

  /** Native `OverwriteByExpression(cond)` — [[rewriteWhere]]'s replace
    * against the operation's base snapshot, with the SOURCE already on
    * disk as task-written files (the invariants re-validate over
    * exactly those rows). */
  private[graft] def commitReplaceWhereNative(ctx: TxTable.DeltaWriteContext,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      files: Seq[String]): Long = {
    val m = manifest(ctx.baseVersion)
    val schema = StructType.fromDDL(m.schemaDdl)
    val preds = sourcesToCatalyst(schema, filters)
    require(preds.length == filters.length,
      s"$root: untranslatable overwrite filters: $filters")
    val cond = preds.map(org.apache.spark.sql.graft.StreamShims.columnOf)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    rewriteWhere(OpReplace, m, cond, {
      val entries = nativeEntries(ctx, files)
      validateNewRows(m, entries)
      entries
    })(_.limit(0))
  }

  /** Native dynamic partition overwrite: replace exactly the hive
    * partitions the task-written files landed in (their partition
    * values come from the shadow-dir parse — the same source of truth
    * as the manifest). Flat/bucketed layouts degenerate to a full
    * overwrite, Spark's own dynamic-mode behavior; an empty source
    * touches nothing and commits nothing. A racing commit rebases iff
    * it left the touched partitions alone. */
  private[graft] def commitDynamicNative(ctx: TxTable.DeltaWriteContext,
      files: Seq[String]): Long = {
    val m = manifest(ctx.baseVersion)
    if (m.partitionCols.isEmpty)
      return commitBatchNative(ctx, files, replaceAll = true)
    if (files.isEmpty) return ctx.baseVersion
    val newEntries = nativeEntries(ctx, files)
    validateNewRows(m, newEntries)
    val touched = newEntries.map(_.partition).toSet
    val replaced = m.files.filter(f => touched.contains(f.partition))
    val cdcFiles: Option[Seq[FileEntry]] =
      if (!effCdf(m)) None
      else Some {
        import org.apache.spark.sql.functions.lit
        val del = readEntries(m, replaced)
          .withColumn(ChangeTypeCol, lit("delete"))
        val ins = readEntries(m, newEntries)
          .withColumn(ChangeTypeCol, lit("insert"))
        writeDataFiles(del.unionByName(ins), Nil,
          withStats = false, enforce = false)._1
      }
    commitRowLevel(OpReplace, m, replaced, newEntries, m.schemaDdl, None,
      cdcFiles, f => touched.contains(f.partition))
  }

  /** Task-written files → manifest entries (stats + layout values
    * from the shadow-dir parse); refuses if any reported file is
    * missing on disk. */
  private def nativeEntries(ctx: TxTable.DeltaWriteContext,
      files: Seq[String]): Seq[FileEntry] = {
    if (files.isEmpty) return Nil
    val writeDst = new Path(dataDir, s"w-${ctx.writeId}")
    val entries = entriesOfDir(writeDst, ctx.physWriteSchema,
      withStats = true, only = Some(files.toSet))
    require(entries.map(_.path).toSet == files.toSet,
      s"$root: native write task-committed files missing on disk — " +
        s"expected ${files.size}, found ${entries.size}")
    entries
  }

  /** Re-validate CHECK / NOT NULL invariants over exactly the new
    * rows of a native write (shared by every native commit shape). */
  private def validateNewRows(m: Manifest, newEntries: Seq[FileEntry]): Unit = {
    if (newEntries.isEmpty) return
    val (constraints, notNull) = invariantsOf(m.properties)
    if (constraints.nonEmpty || notNull.nonEmpty)
      withNotNull(withInvariants(readEntries(m, newEntries), constraints),
        notNull).foreach(_ => ())
  }

  /** Best-effort cleanup of a FAILED native delta write: the task-
    * reported files plus the fragment dir. Uncommitted files are also
    * vacuum-eligible, so a missed delete here is never a leak. */
  private[graft] def abortDeltaNative(ctx: TxTable.DeltaWriteContext,
      files: Seq[String]): Unit = {
    files.foreach(p => try { fs.delete(new Path(root, p), false); () }
      catch { case _: java.io.IOException => () })
    try { fs.delete(new Path(root, s"tmp/dvfrag-${ctx.writeId}"), true); () }
    catch { case _: java.io.IOException => () }
  }

  // ---- internals ----------------------------------------------------------

  private def withBucket(df: DataFrame, spec: BucketSpec): DataFrame =
    df.withColumn(BucketCol,
      pmod(hash(spec.cols.map(col): _*), org.apache.spark.sql.functions.lit(spec.n)))

  /** Bucketed WRITE frame: route rows so each bucket lands in ONE
    * task — files per commit = touched buckets, never tasks × buckets
    * (without this, a 32-partition resolve writing 16 bucket dirs
    * lands up to 512 near-empty files per merge commit, and every
    * subsequent batch pays their footers: the s8 microbatch-constant
    * killer). Write parallelism = bucket count, which is the
    * CLUSTERED BY contract — size `nBuckets` for the table, the
    * exchange is batch-plus-touched-bucket-sized. */
  private def bucketedWriteFrame(df: DataFrame, spec: BucketSpec): DataFrame = {
    val b = withBucket(df, spec)
    b.repartition(spec.n, col(BucketCol))
  }

  /** Land `df` as immutable parquet files in a fresh write dir;
    * returns (file entries with partition values + per-file column
    * stats, written DATA schema — which INCLUDES the layout columns,
    * because they are duplicated into the data via `__pt_` shadow
    * columns before `partitionBy` strips the shadows). Uncommitted on
    * crash: no manifest references the dir, vacuum reclaims it.
    *
    * Stats: min/max per file for every top-level integral/floating/
    * string column, computed with ONE Spark pass over the fresh files
    * (grouped by input_file_name) — so prune-time comparisons use
    * exactly Spark's ordering semantics, no parquet-footer type
    * decoding. Values ride the manifest as strings; [[readWhereRange]]
    * re-types them against the snapshot schema. */
  /** (identity column, highWater base) of the mint performed by the
    * last enforcing [[writeDataFiles]] on THIS handle — the commit
    * loop's stale-base conflict check reads it. Single writer per
    * handle (the TxTable instance is cheap and per-path; concurrent
    * writers hold their own handles and are serialized by the commit
    * log itself). */
  @volatile private var pendingIdentityMint: Option[(String, Long)] = None

  /** Identity minting (GENERATED BY DEFAULT AS IDENTITY): a frame
    * that omits the column gets `high + (partitionPackedRowId+1)·step`
    * — unique and ascending, gaps expected (the Delta contract);
    * a frame supplying the column passes through, which is also how
    * every internal rewrite carries existing ids untouched. */
  private def withIdentity(df: DataFrame,
      props: Map[String, String]): DataFrame = {
    val ids = props.collect {
      case (k, v) if k.startsWith(TxTable.PropIdentityPrefix) =>
        k.stripPrefix(TxTable.PropIdentityPrefix) -> v
    }
    import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}
    ids.foldLeft(df) { case (d, (name, spec)) =>
      if (d.columns.exists(_.equalsIgnoreCase(name))) d
      else {
        val Array(_, step, high) = spec.split(',').map(_.trim.toLong)
        pendingIdentityMint = Some((name, high))
        d.withColumn(name,
          lit(high) + (monotonically_increasing_id() + lit(1L)) * lit(step))
      }
    }
  }

  private def writeDataFiles(df: DataFrame,
      partitionCols: Seq[String],
      withStats: Boolean = true,
      enforce: Boolean = true): (Seq[FileEntry], StructType) = {
    val writeId = java.util.UUID.randomUUID().toString.take(12)
    val dst = new Path(dataDir, s"w-$writeId")
    // CHECK constraints ride the write job as codegen'd guards over
    // the LOGICAL frame (internal side-files — CDC images, deletion
    // vectors — pass enforce=false: different schemas, and their rows
    // are records OF changes, not table rows)
    val latestM = latestVersion.map(manifest)
    if (enforce) pendingIdentityMint = None
    val checked =
      if (!enforce) df
      else {
        val props = latestM.map(_.properties).getOrElse(Map.empty)
        // identity minting first (a frame omitting the column gets
        // values), then generated columns, so both may be referenced
        // by CHECK / NOT NULL
        val minted = withIdentity(df, props)
        // generated columns (compute-if-absent), so CHECK and
        // NOT NULL may reference them
        val gen = withGenerated(minted, props.collect {
          case (k, v) if k.startsWith(TxTable.PropGeneratedPrefix) =>
            k.stripPrefix(TxTable.PropGeneratedPrefix) -> v
        })
        val (constraints, notNull) = invariantsOf(props)
        withNotNull(withInvariants(gen, constraints), notNull)
      }
    // data files carry PHYSICAL column names (the column-mapping
    // boundary — incoming frames are logical; columns outside the map,
    // including brand-new ones and _change_type, pass through).
    // Partition/bucket layout columns are rename-refused, so shadow
    // naming below is unaffected. Stats keys come out physical, which
    // is exactly how the prune-time lookups resolve them.
    val phys0 = latestM.map(m => toPhysicalDf(checked, m)).getOrElse(checked)
    // optimizeWrite (the Delta autoOptimize.optimizeWrite discipline):
    // coalesce the write DOWN to ~128 MB outputs when the optimizer's
    // size estimate says the data is small relative to its task count
    // — a 32-task job writing 2 MB lands 1 file, not 32. Coalesce
    // only (never repartition UP): a wrong estimate can cost write
    // parallelism, never correctness or a shuffle. In-memory
    // estimates overshoot parquet bytes, so files land under target —
    // the safe side. Unknown/huge estimates leave the write alone.
    val phys = {
      val on = latestM.exists(m =>
        boolProp(m, TxTable.PropOptimizeWrite).getOrElse(false))
      if (!on) phys0
      else {
        val est = phys0.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= 0 || !est.isValidLong) phys0
        else {
          val target = 128L * 1024 * 1024
          val n = math.max(1L, (est.toLong + target - 1) / target).toInt
          if (n < phys0.rdd.getNumPartitions) phys0.coalesce(n) else phys0
        }
      }
    }
    if (partitionCols.isEmpty) phys.write.parquet(dst.toString)
    else {
      val shadows = partitionCols.map(c => PartShadowPrefix + c)
      val shadowed = partitionCols.foldLeft(phys)(
        (d, c) => d.withColumn(PartShadowPrefix + c, col(c)))
      shadowed.write.partitionBy(shadows: _*).parquet(dst.toString)
    }
    (entriesOfDir(dst, phys.schema, withStats), df.schema)
  }

  /** Manifest entries for the parquet files under `dst`: per-file
    * zone-map stats (one Spark pass), optional bloom sidecar, and the
    * commit-time listing that freezes size/mtime into the entry.
    * `only` (root-relative paths) restricts BOTH the stats pass and
    * the listing to exactly those files — the native delta write's
    * task-commit discipline, where stray files from aborted task
    * attempts must never enter the manifest. */
  private def entriesOfDir(dst: Path, schema: StructType,
      withStats: Boolean, only: Option[Set[String]] = None): Seq[FileEntry] = {
    val stats =
      if (effStats && withStats) collectFileStats(dst, schema, only)
      else Map.empty[String, (Map[String, String], Map[String, String], Long, Map[String, String], Map[String, Long])]
    // sidecar mode: the write batch's blooms land in ONE JSON beside
    // the data files (path → col → filter), entries carry only its
    // path — manifest/checkpoint bytes stay O(entries) however many
    // columns are bloomed
    val sidecar: Option[String] =
      if (!bloomSidecarMode || !stats.exists(_._2._4.nonEmpty)) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = om.createObjectNode()
        stats.foreach { case (rel, (_, _, _, blooms, _)) =>
          if (blooms.nonEmpty) {
            val fo = node.putObject(rel)
            blooms.foreach { case (c, enc) => fo.put(c, enc) }
          }
        }
        val p = new Path(dst, "_blooms.json")
        val out = fs.create(p, false)
        try out.write(om.writeValueAsString(node)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        Some(relativize(p))
      }
    val it = fs.listFiles(dst, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val rel = relativize(st.getPath)
        if (only.forall(_.contains(rel))) {
          val (mins, maxs, n, blooms, nulls) = stats.getOrElse(rel,
            (Map.empty[String, String], Map.empty[String, String], -1L,
              Map.empty[String, String], Map.empty[String, Long]))
          entries += FileEntry(rel, parsePartition(rel), mins, maxs,
            st.getLen, st.getModificationTime, rows = n,
            bloom = if (sidecar.isDefined) Map.empty else blooms,
            bloomSidecar = if (blooms.nonEmpty) sidecar else None,
            nulls = nulls)
        }
      }
    }
    entries.sortBy(_.path).toSeq
  }

  private def bloomSidecarMode: Boolean =
    latestVersion.flatMap(v => manifest(v).properties
      .get(TxTable.PropBloomStorage)).exists(_.trim.equalsIgnoreCase("sidecar"))

  /** Blooms for one entry: inline, or resolved through its sidecar
    * (loaded once per JVM — write-once content). Unreadable sidecars
    * yield no filters, which keeps the file (pruning stays sound). */
  private def bloomsOf(f: FileEntry): Map[String, String] =
    if (f.bloom.nonEmpty) f.bloom
    else f.bloomSidecar.fold(Map.empty[String, String]) { rel =>
      val key = fs.makeQualified(new Path(root, rel)).toString
      TxTable.sidecarCache.computeIfAbsent(key, _ =>
        try {
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(readLogFile(new Path(root, rel)))
          val it = n.fields()
          val b = Map.newBuilder[String, Map[String, String]]
          while (it.hasNext) {
            val e = it.next()
            val cit = e.getValue.fields()
            val cb = Map.newBuilder[String, String]
            while (cit.hasNext) {
              val ce = cit.next(); cb += ce.getKey -> ce.getValue.asText()
            }
            b += e.getKey -> cb.result()
          }
          b.result()
        } catch { case _: java.io.IOException => Map.empty }
      ).getOrElse(f.path, Map.empty)
    }

  /** One aggregation pass over a fresh write dir: per file, min/max of
    * every stats-eligible column (string-encoded) plus the row count
    * — the bookkeeping [[purgeDeletes]]' deleted-fraction threshold
    * and file-level planning read for free. */
  private def collectFileStats(dst: Path, schema: StructType,
      only: Option[Set[String]] = None): Map[String, (Map[String, String], Map[String, String], Long, Map[String, String], Map[String, Long])] = {
    import org.apache.spark.sql.functions.{input_file_name, length => flen,
      min => fmin, max => fmax, substring, when}
    val fields = schema.fields.filter(f => statsEligible(f.dataType))
      .filterNot(_.name == BucketCol)
    val statCols = fields.map(_.name)
    val aggs = fields.flatMap { f =>
      val c = f.name
      f.dataType match {
        case StringType =>
          // corpus-sized strings must not bloat every manifest: a
          // 32-char PREFIX of min is still a valid lower bound; max
          // has no cheap safe upper bound when truncated, so a long
          // max is dropped (file kept unless its min already prunes)
          Seq(substring(fmin(col(c)), 1, StatStringMax).as(s"min_$c"),
            when(flen(fmax(col(c))) <= StatStringMax, fmax(col(c)))
              .as(s"max_$c"))
        case _ => Seq(
          fmin(col(c)).cast("string").as(s"min_$c"),
          fmax(col(c)).cast("string").as(s"max_$c"))
      }
    }
    val countAgg = org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("__rows")
    // per-column null counts ride the same pass: count(c) = non-null
    // rows, so nulls = __rows - count(c). A null count of ZERO is the
    // valuable case (IS NULL prunes the file), so every stats column
    // records one - absence distinguishes legacy/stats-off entries
    val nullAggs = fields.map(f => org.apache.spark.sql.functions
      .count(col(f.name)).as(s"nn_${f.name}"))
    // per-file Bloom filters for the property-designated columns,
    // built over Spark's own xxhash64 in the SAME aggregation pass
    val mBits = effBloomBits
    val bloomCols = effBloomCols
      .flatMap(c => schema.fields.find(_.name.equalsIgnoreCase(c)))
      .map(_.name).filterNot(_ == BucketCol)
    val bloomUdaf = org.apache.spark.sql.functions.udaf(
      new BloomAgg(mBits), org.apache.spark.sql.Encoders.scalaLong)
    val bloomAggs = bloomCols.map(c => bloomUdaf(
      org.apache.spark.sql.functions.xxhash64(col(c))).as(s"bloom_$c"))
    val allAggs = (countAgg +: aggs.toSeq) ++ nullAggs ++ bloomAggs
    // `only` restricts the stats read to exactly those files — a
    // stray partial file from a dead task attempt (native delta
    // writes) must not fail the pass with a corrupt footer
    val statsInput = only match {
      case Some(rels) => spark.read.schema(schema)
        .parquet(rels.toSeq.sorted.map(r => new Path(root, r).toString): _*)
      case None => spark.read.schema(schema).parquet(dst.toString)
    }
    statsInput
      .groupBy(input_file_name().as("__file"))
      .agg(allAggs.head, allAggs.tail: _*)
      .collect() // one row per fresh file — model-sized
      .map { row =>
        val file = relativize(new Path(new java.net.URI(row.getString(0))))
        val mins = statCols.flatMap(c => Option(row.getAs[String](s"min_$c"))
          .map(c -> _)).toMap
        val maxs = statCols.flatMap(c => Option(row.getAs[String](s"max_$c"))
          .map(c -> _)).toMap
        val blooms = bloomCols.map(c => c -> bloomEncode(
          row.getAs[Array[Byte]](s"bloom_$c"), mBits)).toMap
        val rows = row.getAs[Long]("__rows")
        val nulls = statCols.map(c =>
          c -> (rows - row.getAs[Long](s"nn_$c"))).toMap
        file -> ((mins, maxs, rows, blooms, nulls))
      }.toMap
  }

  /** `__pt_k=v` path segments → (k → unescaped v). */
  private def parsePartition(relPath: String): Map[String, String] =
    relPath.split('/').iterator
      .filter(_.startsWith(PartShadowPrefix))
      .flatMap { seg =>
        seg.indexOf('=') match {
          case -1 => None
          case i  => Some(
            seg.substring(PartShadowPrefix.length, i) ->
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(seg.substring(i + 1)))
        }
      }.toMap

  /** Root-relative path for files under this table's root; files
    * OUTSIDE it (shallow-clone sources) keep their absolute path —
    * which is exactly how the manifest references them, so path
    * comparisons (DML discovery, DV bookkeeping) agree either way. */
  private def relativize(p: Path): String = {
    val abs = p.toUri.getPath
    val rootPath = root.toUri.getPath.stripSuffix("/")
    if (abs.startsWith(rootPath + "/")) abs.stripPrefix(rootPath + "/")
    else abs
  }

  /** Optimistic-concurrency commit loop: compose the next snapshot
    * against the CURRENT latest, publish its DELTA as version N; on
    * collision re-read and retry. The published file holds only the
    * changed entries (O(delta) bytes); the full state rides the JVM
    * cache and, every [[TxTable.CheckpointInterval]] commits, a
    * checkpoint file. */
  /** Transactional identity-highWater advance, applied to EVERY commit
    * inside the loop: for each identity column, fold the committed
    * files' max into the stored highWater — minted and supplied values
    * alike, so the next mint can never collide with either. Runs the
    * stale-base check for mints: a racing commit that advanced the
    * highWater a mint was based on fails the commit LOUDLY (the only
    * sound answer — the minted ids are already in the written files).
    * Max comes from the manifest stats (free); files written with
    * stats off fall back to one bounded scan of exactly those files. */
  private def advanceIdentity(props: Map[String, String],
      added: Seq[FileEntry], colMap: Map[String, String],
      schemaDdl: String): Map[String, String] = {
    val ids = props.filter(_._1.startsWith(TxTable.PropIdentityPrefix))
    // the stale-base check applies only to commits that ADD files —
    // a mint rides its own commit; property-only commits on a handle
    // with a crashed earlier mint must not trip it
    if (ids.isEmpty || added.isEmpty) props
    else {
      val schema = StructType.fromDDL(schemaDdl)
      props ++ ids.map { case (k, spec) =>
        val name = k.stripPrefix(TxTable.PropIdentityPrefix)
        val Array(start, step, high) = spec.split(',').map(_.trim.toLong)
        pendingIdentityMint.foreach { case (mintCol, base) =>
          if (mintCol == name)
            require(high == base,
              s"$root: concurrent identity assignment on $name — " +
                "another writer advanced the high water; rerun the write")
        }
        val actual = schema.fields.map(_.name)
          .find(_.equalsIgnoreCase(name)).getOrElse(name)
        val phys = colMap.getOrElse(actual, actual)
        val (withStat, withoutStat) = added.partition(e =>
          e.max.keys.exists(_.equalsIgnoreCase(phys)))
        val statMax = withStat.map(e =>
          BigDecimal(e.max.find(_._1.equalsIgnoreCase(phys)).get._2).toLong)
          .reduceOption(_ max _)
        val scanMax: Option[Long] =
          if (withoutStat.isEmpty) None
          else {
            import org.apache.spark.sql.functions.max
            val paths = withoutStat.map(e => new Path(root, e.path).toString)
            val df = spark.read.parquet(paths: _*)
            if (!df.columns.exists(_.equalsIgnoreCase(phys))) None
            else Option(df.agg(max(col(s"`$phys`"))).head.get(0))
              .map(_.asInstanceOf[Long])
          }
        val newHigh = (Seq(high) ++ statMax ++ scanMax).max
        require(newHigh >= high,
          s"$root: identity $name high-water regression ($high -> $newHigh)")
        k -> s"$start,$step,$newHigh"
      }
    }
  }

  private def commit(compose: Option[Manifest] => Pending): Long = {
    fs.mkdirs(logDir)
    var attempts = 0
    while (true) {
      val latest = latestVersion.map(manifest)
      val v = latest.map(_.version + 1).getOrElse(0L)
      val p = compose(latest)
      val props0 = p.properties.getOrElse(
        latest.map(_.properties).getOrElse(Map.empty))
      val colMap = p.colMap.getOrElse(
        latest.map(_.colMap).getOrElse(Map.empty))
      // the delta, normalized against the live entries: re-adding the
      // identical ENTRY (not just path — a MoR delete re-tags an
      // unchanged path with a new deletion vector) is a no-op, a
      // changed entry appears in add AND its path in remove so replay
      // replaces it, and removes of paths not live drop out. The log
      // write is ∝ files CHANGED, never ∝ table.
      val addByPath = p.add.map(f => f.path -> f).toMap
      val touched = latest.map(_.files).getOrElse(Nil)
        .filter(f => p.remove(f.path) || addByPath.contains(f.path))
      val unchanged = touched.filter(f => addByPath.get(f.path).contains(f))
        .map(_.path).toSet
      val added = p.add.filterNot(f => unchanged(f.path))
      val props = advanceIdentity(props0, added, colMap, p.schemaDdl)
      val retired = p.retired.getOrElse(
        latest.map(_.retired).getOrElse(Nil))
      val delta = CommitDelta(v, p.operation, p.schemaDdl, p.partitionCols,
        p.bucketSpec, p.txn,
        add = added,
        remove = touched.map(_.path).filterNot(unchanged),
        cdc = p.cdcFiles,
        properties = props,
        colMap = colMap,
        retired = retired)
      // the writer's new state is the replay step itself — the cached
      // snapshot and every checkpoint equal a cold replay, file order
      // included
      val m = applyDelta(latest.getOrElse(emptyState), delta)
      val deltaBytes = delta.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}.json")
      val out = fs.create(tmp, false)
      try out.write(deltaBytes)
      finally out.close()
      val dst = manifestPath(v)
      // the publish primitive is pluggable per deployment substrate —
      // see [[LogStore]]: local roots hard-link (atomic cross-process,
      // full-file visibility), HDFS renames (atomic fail-if-exists),
      // object stores pick conditional-put or lock-file via the
      // `graft.logStore` table property.
      val store = LogStore.forRoot(fs, root,
        latest.flatMap(_.properties.get(TxTable.PropLogStore)))
      val won = store.putIfAbsent(fs, tmp, dst,
        fs.makeQualified(root).toString)
      if (won) {
        pendingIdentityMint = None
        TxTable.cacheState(cacheKey, m, deltaBytes.length.toLong)
        writeLatestHint(v)
        if (v > 0 && v % CheckpointInterval == 0) writeCheckpoint(m)
        maybeAutoMirror(m)
        return v
      }
      fs.delete(tmp, false) // lost the race: retry against the new latest
      attempts += 1
      require(attempts < 50, s"commit to $root: lost ${attempts} races, giving up")
    }
    sys.error("unreachable")
  }

  /** Post-commit auto-mirroring (the `graft.deltaMirror` table
    * property): tail-publish the commit that just landed to the
    * table's Delta mirror, so delta-speaking readers follow WITHOUT
    * anyone calling [[mirrorToDelta]] — the `delta.enableChangeDataFeed`
    *-style opt-in, applied to mirroring. BEST-EFFORT by contract: the
    * graft commit has already published, so a mirror failure (foreign
    * log, live DVs awaiting a purge, a racing mirror losing the
    * create-exclusive) must never surface to the writer — the backlog
    * just waits for the next commit or a manual [[mirrorToDelta]],
    * whose anchor discipline makes the catch-up exact. */
  private def maybeAutoMirror(m: Manifest): Unit =
    if (boolProp(m, TxTable.PropDeltaMirror).getOrElse(false))
      try { mirrorToDelta(); () }
      catch {
        case _: Exception =>
          // per-version fidelity refused (e.g. a DV'd intermediate
          // version awaiting its purge) — self-heal by coalescing the
          // backlog into one commit when the LATEST state is
          // mirrorable; only if that also refuses does the backlog
          // wait for the next commit
          try { mirrorToDelta(coalesce = true); () }
          catch {
            case e: Exception => System.err.println(
              s"[graft] auto-mirror of $root failed (backlog kept for " +
                s"the next commit): ${e.getMessage}")
          }
      }

  /** Best-effort checkpoint of a committed snapshot: the full state to
    * `v.checkpoint.json` (tmp + rename — readers either see a complete
    * checkpoint or none), then the `_last_checkpoint` hint. AFTER the
    * commit publishes, and failure-tolerant: a missing checkpoint only
    * means reconstruction replays more deltas. */
  private def writeCheckpoint(m: Manifest): Unit =
    try {
      val dst = checkpointPath(m.version)
      if (!fs.exists(dst)) {
        val tmp = new Path(logDir, s".tmp-ckpt-${java.util.UUID.randomUUID()}.json")
        val out = fs.create(tmp, false)
        try out.write(m.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); () }
      }
      writeHint(lastCheckpointHintPath, m.version)
    } catch { case _: java.io.IOException => () }

  /** Best-effort `_latest` update after a publish. Monotonic: never
    * moves the hint backward (a slow writer finishing version N after
    * N+1 published must not regress it); failures are ignored — the
    * hint is advisory, resolution falls back to listing. */
  private def writeLatestHint(v: Long): Unit = writeHint(latestHintPath, v)

  /** Advisory version hint (`_latest` / `_last_checkpoint`): a single
    * version number, updated monotonically, torn/missing tolerated. */
  private def readHint(p: Path): Option[Long] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try org.apache.commons.io.IOUtils.toString(
          in, java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        s.trim.toLongOption
      }
    } catch { case _: java.io.IOException => None }

  private def writeHint(p: Path, v: Long): Unit =
    try publishLock(fs.makeQualified(root).toString).synchronized {
      if (readHint(p).forall(_ < v)) {
        val out = fs.create(p, true)
        try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    } catch { case _: java.io.IOException => () }

  private def schemaDdlOf(s: StructType): String = s.toDDL

  private def mergedDdl(latest: Option[Manifest], incoming: StructType): String =
    latest match {
      case None    => schemaDdlOf(incoming)
      case Some(m) =>
        schemaDdlOf(mergeSchemas(StructType.fromDDL(m.schemaDdl), incoming))
    }
}

object TxTable {
  private val LogDirName = "_graft_log"

  /** Internal bucket column carried in the data for merge routing;
    * dropped from every user-facing read. */
  private[core] val BucketCol = "__bucket"
  /** [[BucketCol]] for the V2 catalog's delta writers. */
  private[graft] def BucketColName: String = BucketCol

  /** Prefix of the shadow columns that exist only to drive
    * `partitionBy` directory layout (the original column stays in the
    * data files). */
  private val PartShadowPrefix = "__pt_"
  /** [[PartShadowPrefix]] for the V2 catalog's delta writers. */
  private[graft] def PartShadowPrefixName: String = PartShadowPrefix

  /** Transient z-value column during [[TxTable.compactZOrder]]. */
  private val ZTmpCol = "__zorder"

  /** Deletion-vector file columns: the root-relative data-file path
    * and the row's position within that file (parquet row index). */
  private[core] val DvPathCol = "__dv_path"
  private[core] val DvPosCol = "__dv_pos"
  private[core] val DvSrcCol = "__dv_src"
  /** A discovery row's full data-file metadata path (the raw URI the
    * DV key is extracted from). */
  private val DvFileCol = "__dv_file"

  /** Clause-merge source namespace: inside [[TxTable.mergeClauses]]
    * the source's columns are renamed under this prefix before the
    * join, so same-named target/source columns never collide and a
    * clause expression addresses either side unambiguously. */
  private[graft] val SrcPrefix = "__src_"

  /** Reference a SOURCE column inside [[TxTable.mergeClauses]]
    * conditions and assignment values (target columns use plain
    * `col(name)`). */
  def srcCol(name: String): Column =
    org.apache.spark.sql.functions.col(SrcPrefix + name)

  /** One `WHEN ... THEN ...` clause of [[TxTable.mergeClauses]]. The
    * optional condition is evaluated over target columns (plain
    * names) and source columns ([[srcCol]]); NULL counts false. */
  sealed trait MergeClause { def cond: Option[Column] }
  /** UPDATE SET — empty `set` means `SET *` (every table column from
    * the same-named source column). */
  final case class MergeUpdate(cond: Option[Column],
      set: Map[String, Column]) extends MergeClause
  /** INSERT — empty `values` means `INSERT *` (by name); unassigned
    * columns insert NULL; key columns always come from the ON
    * expressions. */
  final case class MergeInsert(cond: Option[Column],
      values: Map[String, Column]) extends MergeClause
  final case class MergeDelete(cond: Option[Column]) extends MergeClause

  /** Row-change classification column in CDC files / [[TxTable.changeFeed]]
    * output: insert | update_preimage | update_postimage | delete —
    * the Delta change-data-feed column contract. */
  val ChangeTypeCol = "_change_type"

  /** Version that produced a change row, in [[TxTable.changeFeed]]
    * output. */
  val CommitVersionCol = "_commit_version"

  /** Longest string stat stored in a manifest (the Delta-style
    * truncation horizon). */
  private val StatStringMax = 32

  /** One lock object per canonical table root — serializes the
    * exists+rename publish within this JVM (see commit()). */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def publishLock(canonicalRoot: String): Object =
    publishLocks.computeIfAbsent(canonicalRoot, _ => new Object)

  /** A full snapshot manifest is checkpointed every this many commits;
    * between checkpoints a reader replays ≤ this many deltas. 10 =
    * Delta's own default cadence — small enough that replay is a
    * handful of KB-sized reads, large enough that a high-rate
    * streaming writer amortizes the O(files) checkpoint write over
    * ten O(delta) commits. */
  private[graft] val CheckpointInterval = 10L

  /** JVM-wide cache of the highest reconstructed snapshot per table
    * root. Versions are immutable, so any cached state is valid
    * forever as a replay base; highest-version-wins keeps the hot
    * path (a writer re-reading its own table) at zero log reads. One
    * entry per table root touched by this JVM — driver-memory bounded
    * by the largest live file listing, same as planning any read.
    *
    * `entryLen` is the byte length of the version's log entry when the
    * state was built — the staleness tripwire for a table root DELETED
    * AND RECREATED in place (versions restart at 0, so the live file
    * at the cached version no longer matches; the cache must not
    * replay new deltas onto the old base). −1 = unknown (trusted). */
  private[core] final case class CachedState(m: Manifest, entryLen: Long)
  private val stateCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedState]()
  private[core] def cacheState(key: String, m: Manifest, entryLen: Long): Unit = {
    stateCache.merge(key, CachedState(m, entryLen),
      (old, nw) => if (nw.m.version >= old.m.version) nw else old)
    ()
  }
  private[graft] def evictState(key: String): Unit = { stateCache.remove(key); () }
  private[core] def cachedStateFor(key: String): Option[CachedState] =
    Option(stateCache.get(key))
  /** Table-property keys with engine-recognized behavior (any other
    * key is carried verbatim for the user). A property set on the
    * table outranks every handle's constructor flag. */
  val PropDeletionVectors = "graft.deletionVectors"
  val PropChangeDataFeed = "graft.changeDataFeed"
  /** `true` = a merge source with new columns widens the table schema
    * at commit (the reference's `schema.autoMerge.enabled` spark conf
    * as a per-table property); default strict. */
  val PropSchemaAutoMerge = "graft.schemaAutoMerge"
  /** `true` = appends fold accumulated small-file debt automatically
    * (best-effort post-commit [[TxTable.compactSmall]]). */
  val PropAutoCompact = "graft.autoCompact"

  /** `graft.deltaMirror=true` tail-publishes every commit to the
    * table's Delta mirror ([[TxTable.mirrorToDelta]]) as a best-effort
    * post-commit step — the opt-in that keeps delta-speaking readers
    * current without an external scheduler. */
  val PropDeltaMirror = "graft.deltaMirror"
  /** Milliseconds a pre-checkpoint mirror commit survives before log
    * cleaning removes it (the `delta.logRetentionDuration`
    * equivalent); default 30 days, Delta's own. */
  val PropMirrorLogRetention = "graft.mirrorLogRetentionMs"
  val MirrorLogRetentionDefaultMs: Long = 30L * 24 * 3600 * 1000
  /** Milliseconds a mirror `remove` tombstone is carried forward into
    * checkpoints (the `delta.deletedFileRetentionDuration` equivalent);
    * default 7 days, Delta's own. */
  val PropMirrorTombstoneRetention = "graft.mirrorTombstoneRetentionMs"
  val MirrorTombstoneRetentionDefaultMs: Long = 7L * 24 * 3600 * 1000
  /** Mirror checkpoint format: `classic` (default — the single-part
    * `NNN.checkpoint.parquet` every Delta reader accepts) or `v2`
    * (UUID-named manifest + `_sidecars/` file, the 2024+ DBR writer
    * default — parity for readers that expect the newest layout). */
  val PropMirrorCheckpointFormat = "graft.mirrorCheckpointFormat"
  /** App-id under which [[TxTable.followDelta]] records the
    * last-consumed foreign Delta version in the manifest txns — the
    * exactly-once follow anchor (same mechanism as streaming writers'
    * batchId handshake). */
  val FollowTxnId = "graft.deltaFollow"
  /** Stamped `true` by the zero-copy convert of an id-mode Delta
    * table so [[TxTable.followDelta]] footer-verifies every window's
    * NEW files too (the convert-time check covers only the snapshot;
    * a name-drifted later file would read as silent nulls). */
  val PropFollowIdMode = "graft.deltaFollowIdMode"
  /** `true` = writes coalesce to ~128 MB outputs when the size
    * estimate allows (never repartitions up — see writeDataFiles). */
  val PropOptimizeWrite = "graft.optimizeWrite"
  /** Small files that must accumulate before an auto-compact fires —
    * low enough to keep streaming-append tables tidy, high enough
    * that the compact amortizes over many appends. */
  val AutoCompactMinFiles = 8
  /** Output file size the compaction verbs pack toward by default. */
  private val DefaultTargetFileBytes = 128L * 1024 * 1024

  /** Largest per-key distinct-value set a non-bucketed MERGE collects
    * for IN-list candidate pruning (which consults per-file Blooms);
    * bigger key sets degrade to [min,max] zone-map ranges. */
  val MergeInListCap = 1024
  val PropStatsOnWrite = "graft.statsOnWrite"

  /** Comma-separated columns to build per-file Bloom filters for at
    * write time (equality-probe file skipping on layouts where range
    * stats cannot prune); `PropBloomBits` sizes the filter (bits,
    * default 8192 ≈ 1 KB per column per file — size to expected rows
    * per file × ~10 bits; blooms ride the manifest, so budget
    * manifest/checkpoint bytes accordingly — a sidecar-index layout
    * is the 10⁶-file evolution, as in Delta/Iceberg). */
  /** Prefix of CHECK-constraint properties: `graft.constraints.<name>`
    * → SQL condition enforced inside every write job. */
  val PropConstraintPrefix = "graft.constraints."

  /** `graft.notNull.<col>` — NOT NULL invariant on a column, enforced
    * in every write job like CHECK; see [[TxTable.setNotNull]]. */
  val PropNotNullPrefix = "graft.notNull."

  /** `graft.generated.<col>` — GENERATED ALWAYS AS expression:
    * compute-if-absent, enforce-if-supplied; see
    * [[TxTable.addGeneratedColumn]]. */
  val PropGeneratedPrefix = "graft.generated."

  /** `graft.identity.<col>` — `start,step,highWater` of a GENERATED
    * BY DEFAULT AS IDENTITY column; see [[TxTable.addIdentityColumn]]. */
  val PropIdentityPrefix = "graft.identity."

  val PropBloomColumns = "graft.bloomFilterColumns"
  val PropBloomBits = "graft.bloomFilterBits"
  /** Where Bloom filters live: `manifest` (default — inline in every
    * log entry, simplest, right for modest file counts) or `sidecar`
    * (one JSON per write batch referenced by path — manifest and
    * checkpoint bytes stay O(entries), the Delta/Iceberg
    * index-sidecar discipline for 10⁶-file tables; planning loads a
    * sidecar once per JVM, driver-side, no Spark job). */
  val PropBloomStorage = "graft.bloomFilterStorage"
  /** Commit-publish [[LogStore]] selection: `hardlink` | `rename` |
    * `conditionalput` | `lockfile` — default by root scheme. */
  val PropLogStore = "graft.logStore"
  /** Comma-separated default z-order curve columns: a bare `OPTIMIZE`
    * (SQL) or [[TxTable.optimize]] clusters along these instead of a
    * plain compaction — the table remembers its own layout policy. */
  val PropZOrderColumns = "graft.zorderColumns"

  /** JVM-wide sidecar cache — sidecar files are write-once, so any
    * loaded content is valid forever. Keyed by qualified path. */
  private val sidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Map[String, String]]]()

  /** Bloom encoding/probing over xxhash64 values (Spark's own
    * `xxhash64` with its default seed, so the write-side column hash
    * and the planning-side literal hash agree by construction).
    * Double hashing: k index streams from one 64-bit value. */
  private[core] val BloomDefaultBits = 8192
  private[core] val BloomHashes = 4
  private[core] def bloomPositions(h: Long, m: Int): Seq[Int] = {
    val h2 = (h * 0x9E3779B97F4A7C15L) | 1L
    (0 until BloomHashes).map(i =>
      (((h + i * h2) & Long.MaxValue) % m).toInt)
  }
  private[core] def bloomEncode(bits: Array[Byte], m: Int): String =
    s"$BloomHashes:$m:" + java.util.Base64.getEncoder.encodeToString(bits)
  /** Membership test against an encoded filter; malformed encodings
    * keep the file (pruning must never drop rows). */
  private[core] def bloomMightContain(encoded: String, h: Long): Boolean =
    try {
      val parts = encoded.split(":", 3)
      val m = parts(1).toInt
      val bits = java.util.Base64.getDecoder.decode(parts(2))
      bloomPositions(h, m).forall { pos =>
        (bits(pos >>> 3) & (1 << (pos & 7))) != 0
      }
    } catch { case _: RuntimeException => true }

  /** Per-file Bloom aggregator over pre-hashed (xxhash64) values. */
  private[core] final class BloomAgg(m: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](m >>> 3)
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      bloomPositions(h, m).foreach { pos =>
        b(pos >>> 3) = (b(pos >>> 3) | (1 << (pos & 7))).toByte
      }
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  private val OpSetProperties = "setproperties"
  private[core] val OpAlterColumn = "alterschema"
  private val OpOverwrite = "overwrite"
  private val OpAppend = "append"
  private val OpCompact = "compact"
  private val OpMerge = "merge"
  private val OpDelete = "delete"
  private val OpUpdate = "update"
  private val OpReplace = "replace"
  private val OpConvert = "convert"
  private val OpRestore = "restore"
  private val OpClone = "clone"

  /** `statsOnWrite=false` skips the one-pass min/max collection per
    * write — the high-rate streaming-ingest tradeoff (no zone maps on
    * fresh files; a later [[TxTable.compact]] through a stats-on
    * handle restores them). */
  /** `changeDataFeed=true` makes every [[TxTable.merge]]/
    * [[TxTable.deleteKeys]] through THIS handle additionally land
    * row-level change files (`_change_type` pre/post images) recorded
    * in the commit's delta, so [[TxTable.changeFeed]] can serve
    * row-level changes ACROSS rewrites — the Delta
    * `enableChangeDataFeed` discipline (writer-side property; commits
    * made without it feed-reset as before). */
  /** `deletionVectors=true` makes [[TxTable.deleteWhere]] through THIS
    * handle MERGE-ON-READ: instead of rewriting every file holding a
    * matching row (copy-on-write — O(bytes of touched files) for a
    * one-row GDPR delete), the delete lands a parquet side-file of
    * (file, row-position) pairs and the commit re-tags the affected
    * entries; reads exclude the listed rows via a broadcast anti-join.
    * Delete cost becomes O(matching rows); the read-side overhead is
    * confined to DV-carrying files and disappears at the next
    * [[TxTable.compact]]/rewrite of those files (which purges the DV).
    * The Delta/Iceberg deletion-vector discipline. */
  def apply(spark: SparkSession, path: String,
      statsOnWrite: Boolean = true, changeDataFeed: Boolean = false,
      deletionVectors: Boolean = false): TxTable = {
    val root = new Path(path)
    new TxTable(spark, root,
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), statsOnWrite,
      changeDataFeed, deletionVectors)
  }

  /** In-place import: see [[TxTable.convertInPlace]]. Returns the
    * handle over the freshly converted table. */
  def convert(spark: SparkSession, path: String,
      statsOnWrite: Boolean = true): TxTable = {
    val t = TxTable(spark, path, statsOnWrite = statsOnWrite)
    t.convertInPlace()
    t
  }

  /** Zero-copy import of a Delta Lake table: see
    * [[TxTable.convertFromDeltaInPlace]]. Returns the handle over the
    * freshly converted table (the Delta log stays in place, untouched
    * — this log simply takes over for graft readers/writers). */
  def convertFromDelta(spark: SparkSession, path: String): TxTable = {
    val t = TxTable(spark, path)
    t.convertFromDeltaInPlace()
    t
  }

  /** True iff `path` carries a TxTable commit log. */
  def isTable(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, LogDirName)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def versionOf(name: String): Option[Long] =
    if (name.endsWith(".json") && !name.startsWith("."))
      name.stripSuffix(".json").toLongOption
    else None

  /** Evolution rule: every existing column keeps its exact type
    * (drops are fine for append — missing columns null-backfill the
    * NEW files symmetric to old files lacking NEW columns); columns
    * the table has never seen are appended as nullable. */
  private[core] def mergeSchemas(current: StructType,
      incoming: StructType): StructType = {
    requireCompatible(current, incoming, allowNew = true)
    val known = current.fieldNames.toSet
    val added = incoming.fields.filterNot(f => known.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(current.fields ++ added)
  }

  private def requireCompatible(current: StructType, incoming: StructType,
      allowNew: Boolean): Unit = {
    val cur = current.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.filterNot(_.name == BucketCol).foreach { f =>
      cur.get(f.name) match {
        case Some(t) =>
          require(t == f.dataType,
            s"column ${f.name}: type ${f.dataType} incompatible with table's $t " +
              "(schema evolution adds columns, never retypes)")
        case None =>
          require(allowNew, s"column ${f.name} not in table schema")
      }
    }
  }

  /** One data file of a snapshot: root-relative path, the partition
    * values parsed from its layout dirs (empty for flat tables),
    * per-column min/max (string-encoded; empty when stats don't apply
    * — readers treat missing stats conservatively), and the file's
    * size/mtime captured from the commit-time listing — what lets the
    * scan plan file splits WITHOUT re-stat-ing 10⁶ files per query
    * (`bytes < 0` = legacy entry, reader falls back to one
    * getFileStatus).
    *
    * `dvPath`/`dvRows`: merge-on-read deletion vector — a parquet
    * side-file of (data-file path, row position) pairs whose rows are
    * EXCLUDED from every read of this entry (see
    * [[TxTable.deleteWhere]] through a `deletionVectors=true` handle).
    * At most one DV per entry: a later MoR delete on the same file
    * replaces the reference with the accumulated union. Zone-map
    * stats stay those of the physical file — a superset of the live
    * rows, so pruning remains sound. */
  private[graft] final case class FileEntry(path: String,
      partition: Map[String, String],
      min: Map[String, String] = Map.empty,
      max: Map[String, String] = Map.empty,
      bytes: Long = -1L,
      mtimeMs: Long = 0L,
      dvPath: Option[String] = None,
      dvRows: Long = 0L,
      rows: Long = -1L,
      bloom: Map[String, String] = Map.empty,
      bloomSidecar: Option[String] = None,
      nulls: Map[String, Long] = Map.empty)

  /** Columns whose min/max ride the manifest: orderable scalars whose
    * string encoding round-trips (numerics via BigDecimal, strings via
    * unsigned-byte order — Spark's own UTF8 ordering). */
  private def statsEligible(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType => true
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType => true
      case _: DecimalType => true
      case _ => false
    }

  /** Compare a STAT string `a` against a BOUND string `b` in the
    * column's order. Asymmetric for floats: the stat string is a
    * FLOAT's repr and must widen through float (what the residual
    * double-space filter sees for the stored value) while the bound
    * parses as a plain double — comparing both as decimals could
    * prune a file whose float values pass the residual filter. */
  private def statCmp(dt: org.apache.spark.sql.types.DataType,
      a: String, b: String): Int = dt match {
    case StringType =>
      // unsigned byte order = UTF8String ordering (what Spark's
      // min/max computed)
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    case FloatType =>
      // the stat string is a FLOAT's repr: parse it as float and
      // widen, because that is the value the residual filter compares
      // in double space ("0.1" stored for 0.1f must compare as
      // 0.10000000149..., not 0.1 — else pruning can drop rows)
      java.lang.Double.compare(
        java.lang.Float.parseFloat(a).toDouble, b.toDouble)
    case org.apache.spark.sql.types.DateType =>
      // stats ride as cast-to-string ISO dates; parse both sides (an
      // unparsable BOUND keeps the file via the caller's catch)
      java.sql.Date.valueOf(a).compareTo(java.sql.Date.valueOf(b))
    case org.apache.spark.sql.types.TimestampType =>
      java.sql.Timestamp.valueOf(a).compareTo(java.sql.Timestamp.valueOf(b))
    case DoubleType =>
      java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
  }

  /** Key-bucketing spec for copy-on-write merges. */
  private[graft] final case class BucketSpec(cols: Seq[String], n: Int)

  /** Schema of a deletion-vector file/fragment: (root-relative data
    * path, parquet row index). */
  private[graft] val dvFragSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(DvPathCol, StringType,
      nullable = false),
    org.apache.spark.sql.types.StructField(DvPosCol,
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Driver-resolved, executor-serializable context for a native
    * `WriteDelta` (see [[TxTable.deltaWriteContext]]). `rootStr` is
    * the qualified table root; task files land under
    * `data/w-<writeId>/` (data) and `tmp/dvfrag-<writeId>/`
    * (deletion-vector fragments). */
  private[graft] final case class DeltaWriteContext(
      rootStr: String,
      writeId: String,
      baseVersion: Long,
      fullLogicalSchema: StructType,
      physWriteSchema: StructType,
      partitionCols: Seq[String],
      bucketSpec: Option[(Seq[String], Int)],
      dataConf: org.apache.spark.util.SerializableConfiguration,
      fragConf: org.apache.spark.util.SerializableConfiguration) {
    def dataDirStr: String = s"$rootStr/data/w-$writeId"
    def fragDirStr: String = s"$rootStr/tmp/dvfrag-$writeId"
  }

  /** What the DataSource-V2 catalog scan needs from a snapshot —
    * see [[TxTable.v2ScanInfo]]. `keep` turns the scan's pushed V1
    * filters into the zone-map file predicate; `dvOf`/`loadDv` carry
    * the deletion-vector surface (which files have one; the per-file
    * deleted positions, loaded once at batch-planning time). */
  private[graft] final case class V2ScanInfo(
      version: Long,
      visibleSchema: StructType,
      files: Seq[(FileEntry, org.apache.hadoop.fs.FileStatus)],
      bucketOf: FileEntry => Option[Int],
      bucketSpec: Option[(Seq[String], Int)],
      keep: Seq[org.apache.spark.sql.sources.Filter] => (FileEntry => Boolean),
      exactRowCount: Option[Long],
      dvOf: FileEntry => Option[String],
      loadDv: () => Map[String, Array[Long]],
      /** Logical → PHYSICAL column name (identity without column
        * mapping): data files carry physical names, so the V2 reader
        * reads physically-named fields in the logical order — rows
        * are positional, the rename is pure metadata. */
      physNameOf: String => String)

  /** What a write operation asks the commit loop to publish: its delta,
    * the entries it `add`s and the live paths it `remove`s. The commit
    * normalizes both against the live entries: an added entry EQUAL to
    * the live one at its path is a no-op (it and that path's remove
    * drop out), one that differs replaces it (its path is removed
    * too), and a remove of a path that is not live drops out.
    * `cdcFiles`: row-level change files (written out-of-line, referenced
    * only by this commit's delta — never part of the snapshot's file
    * list, so plain reads don't see them). `Some(Nil)` ≠ `None`: a
    * CDF-enabled commit that changed no rows serves an EMPTY change
    * set, while a commit with no CDC recording resets the feed.
    * `properties`/`colMap`/`retired = None` inherit the previous
    * snapshot's values (the normal case). */
  private final case class Pending(operation: String,
      schemaDdl: String, partitionCols: Seq[String],
      bucketSpec: Option[BucketSpec], txn: Option[(String, Long)],
      add: Seq[FileEntry] = Nil, remove: Set[String] = Set.empty,
      cdcFiles: Option[Seq[FileEntry]] = None,
      properties: Option[Map[String, String]] = None,
      colMap: Option[Map[String, String]] = None,
      retired: Option[Seq[String]] = None)

  /** Shared JSON plumbing for version files and checkpoints. */
  private[core] object LogFormat {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

    /** A version file is a [[CommitDelta]] (has add/remove). A file
      * without either is a full manifest from before the delta log,
      * refused by name rather than misread as an empty commit. */
    def parseEntry(json: String): CommitDelta = {
      val n = new ObjectMapper().readTree(json)
      if (!n.has("add") && !n.has("remove")) sys.error(
        "pre-delta full-manifest log entry; this log format is no longer read")
      CommitDelta.fromNode(n)
    }

    def putHeader(node: ObjectNode, version: Long, operation: String,
        schemaDdl: String, partitionCols: Seq[String],
        bucketSpec: Option[BucketSpec],
        properties: Map[String, String],
        colMap: Map[String, String] = Map.empty,
        retired: Seq[String] = Nil): Unit = {
      node.put("version", version)
      node.put("operation", operation)
      node.put("schema_ddl", schemaDdl)
      if (partitionCols.nonEmpty) {
        val pc = node.putArray("partition_cols")
        partitionCols.foreach(pc.add)
      }
      bucketSpec.foreach { b =>
        val bc = node.putArray("bucket_cols")
        b.cols.foreach(bc.add)
        node.put("n_buckets", b.n)
        ()
      }
      if (properties.nonEmpty) {
        val po = node.putObject("properties")
        properties.foreach { case (k, v) => po.put(k, v) }
        ()
      }
      if (colMap.nonEmpty) {
        val cm = node.putObject("column_mapping")
        colMap.foreach { case (k, v) => cm.put(k, v) }
        ()
      }
      if (retired.nonEmpty) {
        val rc = node.putArray("retired_columns")
        retired.foreach(rc.add)
        ()
      }
    }

    def putFileArray(arr: ArrayNode, files: Seq[FileEntry]): Unit =
      files.foreach { f =>
        val fo = arr.addObject()
        fo.put("path", f.path)
        if (f.bytes >= 0) fo.put("bytes", f.bytes)
        if (f.mtimeMs > 0) fo.put("mtime", f.mtimeMs)
        if (f.partition.nonEmpty) {
          val po = fo.putObject("partition")
          f.partition.foreach { case (k, v) => po.put(k, v) }
        }
        if (f.min.nonEmpty) {
          val mo = fo.putObject("min")
          f.min.foreach { case (k, v) => mo.put(k, v) }
        }
        if (f.max.nonEmpty) {
          val mo = fo.putObject("max")
          f.max.foreach { case (k, v) => mo.put(k, v) }
        }
        f.dvPath.foreach { p =>
          fo.put("dv", p)
          fo.put("dv_rows", f.dvRows)
          ()
        }
        if (f.rows >= 0) fo.put("rows", f.rows)
        if (f.bloom.nonEmpty) {
          val bo = fo.putObject("bloom")
          f.bloom.foreach { case (k, v) => bo.put(k, v) }
        }
        f.bloomSidecar.foreach { p => fo.put("bloom_sidecar", p); () }
        if (f.nulls.nonEmpty) {
          val no = fo.putObject("nulls")
          f.nulls.foreach { case (k, v) => no.put(k, v) }
        }
        ()
      }

    def strMap(node: JsonNode, field: String): Map[String, String] =
      Option(node.get(field)).map { p =>
        val it = p.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }.getOrElse(Map.empty)

    def longMap(node: JsonNode, field: String): Map[String, Long] =
      Option(node.get(field)).map { p =>
        val it = p.fields()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
        b.result()
      }.getOrElse(Map.empty)

    def readFileArray(n: JsonNode, field: String): Seq[FileEntry] =
      Option(n.get(field)).map { a =>
        (0 until a.size()).map { i =>
          val f = a.get(i)
          if (f.isTextual) FileEntry(f.asText(), Map.empty)
          else FileEntry(f.get("path").asText(), strMap(f, "partition"),
            strMap(f, "min"), strMap(f, "max"),
            Option(f.get("bytes")).map(_.asLong()).getOrElse(-1L),
            Option(f.get("mtime")).map(_.asLong()).getOrElse(0L),
            Option(f.get("dv")).map(_.asText()),
            Option(f.get("dv_rows")).map(_.asLong()).getOrElse(0L),
            Option(f.get("rows")).map(_.asLong()).getOrElse(-1L),
            strMap(f, "bloom"),
            Option(f.get("bloom_sidecar")).map(_.asText()),
            longMap(f, "nulls"))
        }
      }.getOrElse(Seq.empty)

    def readHeader(n: JsonNode): (Long, String, String, Seq[String],
        Option[BucketSpec], Map[String, String]) = {
      val partCols = Option(n.get("partition_cols")).map(a =>
        (0 until a.size()).map(a.get(_).asText())).getOrElse(Seq.empty)
      val bucket = Option(n.get("bucket_cols")).map { a =>
        BucketSpec((0 until a.size()).map(a.get(_).asText()),
          n.get("n_buckets").asInt())
      }
      (n.get("version").asLong(), n.get("operation").asText(),
        n.get("schema_ddl").asText(), partCols, bucket,
        strMap(n, "properties"))
    }

    /** Column-mapping header fields (logical→physical map + retired
      * physical names) — absent on pre-mapping logs. */
    def readMapping(n: JsonNode): (Map[String, String], Seq[String]) =
      (strMap(n, "column_mapping"),
        Option(n.get("retired_columns")).map(a =>
          (0 until a.size()).map(a.get(_).asText())).getOrElse(Seq.empty))
  }

  /** One commit's log entry: the files it ADDED (with partition values
    * and stats), the paths it REMOVED from the previous snapshot, and
    * the small per-commit header (layout, schema DDL, txn tag). Log
    * bytes ∝ changed files — an append to a 10⁶-file table writes KBs,
    * not the table listing. */
  private[core] final case class CommitDelta(version: Long, operation: String,
      schemaDdl: String, partitionCols: Seq[String],
      bucketSpec: Option[BucketSpec], txn: Option[(String, Long)],
      add: Seq[FileEntry], remove: Seq[String],
      cdc: Option[Seq[FileEntry]] = None,
      properties: Map[String, String] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil) {
    def toJson: String = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      LogFormat.putHeader(node, version, operation, schemaDdl,
        partitionCols, bucketSpec, properties, colMap, retired)
      txn.foreach { case (app, batch) =>
        val t = node.putObject("txn")
        t.put("app", app)
        t.put("batch", batch)
        ()
      }
      LogFormat.putFileArray(node.putArray("add"), add)
      val rm = node.putArray("remove")
      remove.foreach(rm.add)
      cdc.foreach(fs => LogFormat.putFileArray(node.putArray("cdc"), fs))
      node.put("num_added", add.size)
      node.put("num_removed", remove.size)
      om.writerWithDefaultPrettyPrinter().writeValueAsString(node)
    }
  }

  private[core] object CommitDelta {
    def fromNode(n: com.fasterxml.jackson.databind.JsonNode): CommitDelta = {
      val (version, op, ddl, partCols, bucket, props) = LogFormat.readHeader(n)
      val txn = Option(n.get("txn")).map(t =>
        (t.get("app").asText(), t.get("batch").asLong()))
      val remove = Option(n.get("remove")).map(a =>
        (0 until a.size()).map(a.get(_).asText())).getOrElse(Seq.empty)
      val (colMap, retired) = LogFormat.readMapping(n)
      CommitDelta(version, op, ddl, partCols, bucket, txn,
        LogFormat.readFileArray(n, "add"), remove,
        Option(n.get("cdc")).map(_ => LogFormat.readFileArray(n, "cdc")),
        props, colMap, retired)
    }
  }

  /** A snapshot's manifest statistics — what every metadata-answered
    * path reads (`scanRelation`, `v2ScanInfo`, `manifestRowCount`,
    * `manifestColumnStats`). `rows` / `liveRows` are the on-disk and
    * the live (minus deletion-vector rows) row sums, None when any
    * entry predates row-count recording. `bounds` holds, per NUMERIC
    * column of the snapshot schema whose every entry carries a
    * parseable min and max stat (under its physical name), the
    * (min, max) over all entries. An absent stat usually means an
    * all-null or legacy file — min/max can't fold over those; strings
    * can't fold at all: their max stat is truncation-dropped. */
  private[core] final case class ManifestStats(rows: Option[Long],
      liveRows: Option[Long], bounds: Map[String, (BigDecimal, BigDecimal)])

  /** Snapshot manifest — the complete state of one version
    * (reconstructed in memory from the delta log; persisted whole only
    * as a checkpoint). JSON via Jackson (ships with Spark). Files are
    * objects carrying partition values; plain-string entries from
    * pre-partitioning manifests still parse (empty partition map). */
  /** `colMap`: logical column name → PHYSICAL parquet column name, for
    * exactly the columns where the two differ (the column-mapping
    * discipline: physical names are frozen at column birth, renames
    * are pure metadata). `retired`: physical names of dropped columns
    * — still present in old data files, never addressable again (a
    * re-added column of the same logical name gets a FRESH physical
    * name, so stale data cannot resurrect). */
  private[core] final case class Manifest(version: Long, operation: String,
      schemaDdl: String, files: Seq[FileEntry],
      partitionCols: Seq[String] = Nil,
      bucketSpec: Option[BucketSpec] = None,
      txns: Map[String, Long] = Map.empty,
      properties: Map[String, String] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil) {
    /** This snapshot's statistics, derived once per manifest. */
    lazy val stats: ManifestStats = {
      val counted = files.forall(_.rows >= 0)
      def sum(n: FileEntry => Long) =
        if (counted) Some(files.map(n).sum) else None
      val bounds = StructType.fromDDL(schemaDdl).fields.flatMap { f =>
        val phys = colMap.getOrElse(f.name, f.name)
        val numeric = f.dataType match {
          case IntegerType | LongType | DoubleType | FloatType |
               ShortType | ByteType => true
          case _ => false
        }
        if (!numeric || files.isEmpty ||
            !files.forall(e => e.min.contains(phys) && e.max.contains(phys)))
          None
        else
          try Some(f.name -> ((files.map(e => BigDecimal(e.min(phys))).min,
            files.map(e => BigDecimal(e.max(phys))).max)))
          catch { case _: NumberFormatException => None }
      }.toMap
      ManifestStats(sum(_.rows), sum(e => e.rows - e.dvRows), bounds)
    }

    def toJson: String = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = om.createObjectNode()
      LogFormat.putHeader(node, version, operation, schemaDdl,
        partitionCols, bucketSpec, properties, colMap, retired)
      if (txns.nonEmpty) {
        val tn = node.putObject("txns")
        txns.foreach { case (k, v) => tn.put(k, v) }
      }
      LogFormat.putFileArray(node.putArray("files"), files)
      node.put("num_files", files.size)
      om.writerWithDefaultPrettyPrinter().writeValueAsString(node)
    }
  }

  private[core] object Manifest {
    def fromJson(json: String): Manifest =
      fromNode(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json))

    def fromNode(n: com.fasterxml.jackson.databind.JsonNode): Manifest = {
      val (version, op, ddl, partCols, bucket, props) = LogFormat.readHeader(n)
      val txns = Option(n.get("txns")).map { t =>
        val it = t.fields()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
        b.result()
      }.getOrElse(Map.empty[String, Long])
      val (colMap, retired) = LogFormat.readMapping(n)
      Manifest(version, op, ddl, LogFormat.readFileArray(n, "files"),
        partCols, bucket, txns, props, colMap, retired)
    }
  }
}
