package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{DeltaFixture, DeltaLog, Tables, TxTable}
import graft.streaming.EventsStream

/** Delta Lake interop ([[graft.core.DeltaLog]]): the open `_delta_log`
  * protocol parses (JSON commits, removes, checkpoints), reads inject
  * partition values and prune on them, CONVERT FROM DELTA publishes a
  * zero-copy snapshot with the full transactional surface behind it,
  * and unsupported protocol features refuse loudly instead of
  * misreading. */
class DeltaInteropSpec extends SparkSpec {

  private def scratch(tag: String): String =
    EventsStream.scratchDir(s"delta_$tag") + "/t"

  /** One-way file sync src→dst, EXCLUDING the graft-native log (the
    * follower builds its own) — the crude "ship the Delta mirror to
    * another store" step of the mirror→follow round trip. Existing
    * files at dst are left alone, so calling it again ships only the
    * new commits/data/DV files. */
  private def copyNew(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val sp = Paths.get(src)
    val stream = Files.walk(sp)
    try stream.forEach { p =>
      val rel = sp.relativize(p).toString
      if (rel.nonEmpty && !rel.startsWith("_graft_log") &&
          !rel.startsWith(".tmp")) {
        val d = Paths.get(dst, rel)
        if (Files.isDirectory(p)) Files.createDirectories(d)
        else if (!Files.exists(d)) {
          Files.createDirectories(d.getParent)
          Files.copy(p, d)
        }
        ()
      }
    } finally stream.close()
  }

  private lazy val orders = Tables.orders(spark, sf)
    .select("o_orderkey", "o_totalprice", "o_orderpriority")

  /** Unpartitioned fixture: commit 0 adds A+B, commit 1 removes B and
    * adds C. Active = A (key%3==0) + C (key%3==2). */
  private def unpartitioned(dir: String): Unit = {
    val a = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 0), dir, "part-a.parquet")
    val b = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 1), dir, "part-b.parquet")
    val c = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 2), dir, "part-c.parquet")
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(),
      DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(a, stats = Some(DeltaFixture.statsJson(a.rows))),
      DeltaFixture.addJson(b, stats = Some(DeltaFixture.statsJson(b.rows)))))
    DeltaFixture.commit(spark, dir, 1, Seq(
      DeltaFixture.removeJson(b.relPath),
      DeltaFixture.addJson(c, stats = Some(DeltaFixture.statsJson(c.rows)))))
  }

  test("snapshot replay: adds accumulate, removes tombstone, metadata parses") {
    val dir = scratch("basic")
    unpartitioned(dir)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version == 1)
    assert(snap.adds.map(_.path) == Seq("part-a.parquet", "part-c.parquet"))
    assert(snap.partitionCols.isEmpty)
    assert(snap.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    assert(snap.adds.forall(_.rows > 0), "stats numRecords must carry")
    assert(snap.adds.forall(_.bytes > 0))
    // the read equals the expected row set exactly
    val got = DeltaLog.read(spark, dir)
    val want = orders.where(col("o_orderkey") % 3 =!= 1)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the log's URL-encoded path spelling is the one identity across
    // add and remove: removing "part%20d.parquet" drops the file
    val d = DeltaFixture.writeData(spark, orders.limit(5), dir, "part d.parquet")
    DeltaFixture.commit(spark, dir, 2,
      Seq(DeltaFixture.addJson(d.copy(relPath = "part%20d.parquet"))))
    assert(DeltaLog.snapshot(spark, dir).adds.map(_.path) ==
      Seq("part d.parquet", "part-a.parquet", "part-c.parquet"))
    DeltaFixture.commit(spark, dir, 3,
      Seq(DeltaFixture.removeJson("part%20d.parquet")))
    assert(DeltaLog.snapshot(spark, dir).adds.map(_.path) ==
      Seq("part-a.parquet", "part-c.parquet"))
  }

  test("checkpointed log: base state from parquet, JSON commits replay on top; aged-out JSON tolerated") {
    val dir = scratch("checkpoint")
    val a = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 0), dir, "part-a.parquet")
    val b = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 1), dir, "part-b.parquet")
    val c = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 2), dir, "part-c.parquet")
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(), DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(a), DeltaFixture.addJson(b)))
    DeltaFixture.commit(spark, dir, 1, Seq(DeltaFixture.removeJson(b.relPath)))
    // checkpoint at v1 compacts to {a}; commit 2 adds c on top
    DeltaFixture.checkpoint(spark, dir, 1, orders.schema, Nil,
      Seq((a, Map.empty[String, String],
        Some(DeltaFixture.statsJson(a.rows)))))
    DeltaFixture.commit(spark, dir, 2, Seq(DeltaFixture.addJson(c)))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.version == 2)
    assert(snap.adds.map(_.path) == Seq("part-a.parquet", "part-c.parquet"))
    // Delta retention deletes old JSON commits once checkpointed —
    // the reader must not need them
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_delta_log/00000000000000000000.json"), false)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_delta_log/00000000000000000001.json"), false)
    val snap2 = DeltaLog.snapshot(spark, dir)
    assert(snap2.adds.map(_.path) == Seq("part-a.parquet", "part-c.parquet"))
    assert(DeltaLog.read(spark, dir).count() ==
      orders.where(col("o_orderkey") % 3 =!= 1).count())
  }

  test("partitioned delta: values injected TYPED from the log, one broadcast join, pruning cuts the file list") {
    val dir = scratch("partitioned")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    val prios = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).sorted
    val files = prios.map { p =>
      val df = orders.where(col("o_orderpriority") === p)
        .drop("o_orderpriority") // Delta does NOT store partition cols in data
      val f = DeltaFixture.writeData(spark, df, dir,
        s"o_orderpriority=${p.replace(' ', '_')}/part-0.parquet")
      (f, p)
    }
    DeltaFixture.commit(spark, dir, 0,
      DeltaFixture.protocolJson() +:
      DeltaFixture.metaDataJson(schema, Seq("o_orderpriority")) +:
      files.map { case (f, p) =>
        DeltaFixture.addJson(f, Map("o_orderpriority" -> p)) }.toSeq)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.partitionCols == Seq("o_orderpriority"))
    val got = DeltaLog.read(spark, dir)
    assert(got.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    // full equality including the injected partition column
    assert(got.exceptAll(orders).isEmpty && orders.exceptAll(got).isEmpty)
    // partition pruning: an EqualTo filter reads ONE file, not five
    val pruned = DeltaLog.buildDf(spark, snap,
      Seq(org.apache.spark.sql.sources.EqualTo("o_orderpriority", prios.head)))
    assert(pruned.inputFiles.length == 1,
      s"expected 1 pruned file, got ${pruned.inputFiles.length}")
    // the format front door: filters prune through the relation too
    val rel = spark.read.format("delta-log").load(dir)
      .where(col("o_orderpriority") === prios.head)
    assert(rel.count() ==
      orders.where(col("o_orderpriority") === prios.head).count())
  }

  test("CONVERT FROM DELTA: zero-copy snapshot, then the FULL transactional surface") {
    val dir = scratch("convert")
    unpartitioned(dir)
    val dataFilesBefore = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.getName, st.getModificationTime)).toMap
    }
    val t = TxTable.convertFromDelta(spark, dir)
    val want = orders.where(col("o_orderkey") % 3 =!= 1)
    assert(t.read().count() == want.count())
    assert(t.read().exceptAll(want).isEmpty)
    // zero copy: the delta data files are untouched (same mtimes)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataFilesBefore.foreach { case (name, mtime) =>
      assert(fs.getFileStatus(
        new org.apache.hadoop.fs.Path(dir, name)).getModificationTime == mtime,
        s"$name was rewritten by convert")
    }
    // stats carried: numRecords answers the zone-map surface
    // (rows recorded per entry → exact count path stays available)
    // and the transactional verbs work from v0 on
    val v0 = t.latestVersion.get
    t.append(orders.where(col("o_orderkey") % 3 === 1).limit(10))
    assert(t.read().count() == want.count() + 10)
    t.deleteWhere(col("o_totalprice") < 0) // no-op delete commits fine
    assert(t.readVersion(v0).count() == want.count(), "time travel to v0")
    // the delta log is still there, untouched, for delta readers
    assert(DeltaLog.isDeltaTable(spark, dir))
    assert(DeltaLog.read(spark, dir).count() == want.count())
  }

  /** Write one flat file of the %3∈{0,1} orders rows SORTED by key
    * (deterministic row indexes), plus the positions of key%7==0
    * rows — the deleted set every DV test uses. */
  private def dvSubstrate(dir: String): (DeltaFixture.DataFile, Seq[Long]) = {
    val df = orders.where(col("o_orderkey") % 3 < 2).orderBy("o_orderkey")
    val f = DeltaFixture.writeData(spark, df, dir, "part-dv.parquet")
    val positions = spark.read.parquet(s"$dir/part-dv.parquet")
      .select(col("_metadata.row_index"), col("o_orderkey"))
      .where(col("o_orderkey") % 7 === 0)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(positions.nonEmpty, "fixture must delete something")
    (f, positions)
  }

  private def dvExpected =
    orders.where(col("o_orderkey") % 3 < 2 && col("o_orderkey") % 7 =!= 0)

  test("deletion vectors: u-storage + inline DVs both subtract exactly " +
      "their rows; checkpoint adds carry DVs too") {
    val dir = scratch("dvread")
    val (f, positions) = dvSubstrate(dir)
    val dv = DeltaFixture.writeDv(spark, dir, positions)
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("deletionVectors"),
        writerFeatures = Seq("deletionVectors")),
      DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(f, deletionVector = Some(dv))))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.adds.head.dv.map(_.cardinality).contains(positions.size.toLong))
    val got = DeltaLog.read(spark, dir)
    assert(got.exceptAll(dvExpected).isEmpty && dvExpected.exceptAll(got).isEmpty)

    // the same deletes INLINE ('i' storage)
    val dir2 = scratch("dvinline")
    val (f2, pos2) = dvSubstrate(dir2)
    DeltaFixture.commit(spark, dir2, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("deletionVectors"),
        writerFeatures = Seq("deletionVectors")),
      DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(f2, deletionVector =
        Some(DeltaFixture.inlineDv(pos2)))))
    val got2 = spark.read.format("delta-log").load(dir2)
    assert(got2.exceptAll(dvExpected).isEmpty && dvExpected.exceptAll(got2).isEmpty)

    // DV'd add arriving via a parquet CHECKPOINT (not a JSON commit):
    // ignoring it would resurrect the deleted rows
    val dir3 = scratch("dvckpt")
    val (f3, pos3) = dvSubstrate(dir3)
    val dv3 = DeltaFixture.writeDv(spark, dir3, pos3)
    DeltaFixture.checkpoint(spark, dir3, 0, orders.schema, Nil,
      Seq((f3, Map.empty[String, String], None)),
      dvFor = Map(f3.relPath -> dv3), protocol = (3, 7))
    val got3 = DeltaLog.read(spark, dir3)
    assert(got3.count() == dvExpected.count(),
      "checkpoint-carried DV must subtract")
  }

  test("column mapping (name mode): physical files, logical surface, " +
      "physically-keyed partition values and stats translate") {
    val dir = scratch("cmap")
    val schema = DeltaFixture.mappedSchema(Seq(
      ("o_orderkey", LongType, "col-aaaa"),
      ("o_totalprice", DoubleType, "col-bbbb"),
      ("o_orderpriority", StringType, "col-cccc")))
    val prios = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).sorted.take(2)
    val files = prios.map { p =>
      val df = orders.where(col("o_orderpriority") === p)
        .drop("o_orderpriority")
        .withColumnRenamed("o_orderkey", "col-aaaa")
        .withColumnRenamed("o_totalprice", "col-bbbb")
      (DeltaFixture.writeData(spark, df, dir,
        s"pp=${p.hashCode.abs}/f.parquet"), p)
    }
    DeltaFixture.commit(spark, dir, 0,
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5) +:
      DeltaFixture.metaDataJson(schema, Seq("o_orderpriority"),
        config = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "3")) +:
      files.map { case (f, p) =>
        // partition values + stats keyed by PHYSICAL name, per protocol
        DeltaFixture.addJson(f, Map("col-cccc" -> p),
          stats = Some(DeltaFixture.statsJson(f.rows,
            min = Map("col-aaaa" -> 1L), max = Map("col-aaaa" -> 999999999L))))
      }.toSeq)
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.colMap == Map("o_orderkey" -> "col-aaaa",
      "o_totalprice" -> "col-bbbb", "o_orderpriority" -> "col-cccc"))
    assert(snap.adds.head.partition.keySet == Set("o_orderpriority"),
      "partition keys surface LOGICAL")
    assert(snap.adds.head.min.keySet == Set("o_orderkey"),
      "stat keys surface LOGICAL")
    val got = spark.read.format("delta-log").load(dir)
    assert(got.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    val want = orders.where(col("o_orderpriority").isin(prios: _*))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("CONVERT FROM DELTA of a DV'd + column-mapped table: zero-copy, " +
      "rows exact, transactional verbs work on top") {
    val dir = scratch("dvcmconv")
    val schema = DeltaFixture.mappedSchema(Seq(
      ("o_orderkey", LongType, "col-k"),
      ("o_totalprice", DoubleType, "col-p"),
      ("o_orderpriority", StringType, "col-o")))
    val df = orders.where(col("o_orderkey") % 3 < 2).orderBy("o_orderkey")
      .withColumnRenamed("o_orderkey", "col-k")
      .withColumnRenamed("o_totalprice", "col-p")
      .withColumnRenamed("o_orderpriority", "col-o")
    val f = DeltaFixture.writeData(spark, df, dir, "part-dv.parquet")
    val positions = spark.read.parquet(s"$dir/part-dv.parquet")
      .select(col("_metadata.row_index"), col("col-k"))
      .where(col("col-k") % 7 === 0)
      .collect().map(_.getLong(0)).toSeq.sorted
    val dv = DeltaFixture.writeDv(spark, dir, positions)
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("deletionVectors", "columnMapping"),
        writerFeatures = Seq("deletionVectors", "columnMapping")),
      DeltaFixture.metaDataJson(schema,
        config = Map("delta.columnMapping.mode" -> "name")),
      DeltaFixture.addJson(f, deletionVector = Some(dv))))
    // the delta-log reader sees through both features…
    val viaLog = DeltaLog.read(spark, dir)
    assert(viaLog.exceptAll(dvExpected).isEmpty &&
      dvExpected.exceptAll(viaLog).isEmpty)
    // …and the zero-copy convert translates them into the engine's own
    // colMap + merge-on-read sidecar
    val t = TxTable.convertFromDelta(spark, dir)
    val got = t.read()
    assert(got.schema.fieldNames.toSeq ==
      Seq("o_orderkey", "o_totalprice", "o_orderpriority"))
    assert(got.exceptAll(dvExpected).isEmpty && dvExpected.exceptAll(got).isEmpty)
    // transactional verbs on the converted table: append, then a
    // metadata-only rename on top of the ADOPTED physical names
    t.append(orders.where(col("o_orderkey") % 3 === 2).limit(7))
    assert(t.read().count() == dvExpected.count() + 7)
    t.renameColumn("o_totalprice", "price")
    assert(t.read().schema.fieldNames.contains("price"))
  }

  test("CONVERT TO DELTA: zero-copy mirror read back bit-equal, " +
      "partitioned + renamed-column round-trips, refusals loud") {
    // flat table → export → both readers agree
    val d1 = scratch("exp1")
    val t1 = TxTable(spark, d1)
    t1.overwrite(orders.where(col("o_orderkey") % 3 < 2))
    val mtimes = {
      val fs = new org.apache.hadoop.fs.Path(d1)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      t1.read().inputFiles.map(f => f ->
        fs.getFileStatus(new org.apache.hadoop.fs.Path(
          new java.net.URI(f))).getModificationTime).toMap
    }
    assert(t1.exportToDelta() == 0L)
    val viaDelta = DeltaLog.read(spark, d1)
    assert(viaDelta.exceptAll(t1.read()).isEmpty &&
      t1.read().exceptAll(viaDelta).isEmpty)
    // zero copy: no data file rewritten
    val fs1 = new org.apache.hadoop.fs.Path(d1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    mtimes.foreach { case (f, mt) =>
      assert(fs1.getFileStatus(new org.apache.hadoop.fs.Path(
        new java.net.URI(f))).getModificationTime == mt, s"$f rewritten")
    }

    // partitioned: values + nulls from the manifest, pruning intact
    val d2 = scratch("exp2")
    val t2 = TxTable(spark, d2)
    t2.overwrite(orders, partitionBy = Seq("o_orderpriority"))
    t2.exportToDelta()
    val back2 = DeltaLog.read(spark, d2)
    assert(back2.exceptAll(orders).isEmpty && orders.exceptAll(back2).isEmpty)
    val snap2 = DeltaLog.snapshot(spark, d2)
    assert(snap2.partitionCols == Seq("o_orderpriority"))
    assert(snap2.adds.forall(_.partition.keySet == Set("o_orderpriority")))

    // renamed column → name-mode column mapping in the export
    val d3 = scratch("exp3")
    val t3 = TxTable(spark, d3)
    t3.overwrite(orders.where(col("o_orderkey") % 5 === 0))
    t3.renameColumn("o_totalprice", "price")
    t3.exportToDelta()
    val snap3 = DeltaLog.snapshot(spark, d3)
    assert(snap3.colMap.contains("price"), s"colMap ${snap3.colMap}")
    val back3 = DeltaLog.read(spark, d3)
    assert(back3.schema.fieldNames.contains("price"))
    assert(back3.exceptAll(t3.read()).isEmpty &&
      t3.read().exceptAll(back3).isEmpty)

    // column-mapped AND partitioned (the migrated-then-renamed shape):
    // partition columns can never rename (layoutProtected), so their
    // physical names are stable and partitionValues key identically —
    // the export carries name-mode mapping for the renamed DATA column
    // and physical partition keys, and both readers agree
    val d5 = scratch("exp5")
    val t5 = TxTable(spark, d5)
    t5.overwrite(orders.where(col("o_orderkey") % 4 === 1),
      partitionBy = Seq("o_orderpriority"))
    t5.renameColumn("o_totalprice", "price")
    t5.exportToDelta()
    val snap5 = DeltaLog.snapshot(spark, d5)
    assert(snap5.partitionCols == Seq("o_orderpriority"))
    assert(snap5.colMap.contains("price"), s"colMap ${snap5.colMap}")
    assert(snap5.adds.forall(_.partition.keySet == Set("o_orderpriority")))
    val back5 = DeltaLog.read(spark, d5)
    assert(back5.schema.fieldNames.contains("price"))
    assert(back5.exceptAll(t5.read()).isEmpty &&
      t5.read().exceptAll(back5).isEmpty)

    // a DV'd snapshot exports as merge-on-read state (descriptor +
    // reader 3 / writer 7) — read back exact, no purge required
    val d4 = scratch("exp4")
    val t4 = TxTable(spark, d4, deletionVectors = true)
    t4.overwrite(orders.limit(100))
    t4.deleteWhere(col("o_orderkey") % 2 === 0)
    assert(t4.exportToDelta() == 0L)
    val back4 = DeltaLog.read(spark, d4)
    assert(back4.exceptAll(t4.read()).isEmpty &&
      t4.read().exceptAll(back4).isEmpty)
    assert(back4.count() == t4.read().count())
    // refusal: already-a-Delta-mirror
    val e2 = intercept[Exception] { t1.exportToDelta() }
    assert(e2.getMessage.contains("_delta_log"), e2.getMessage)
  }

  test("incremental mirror: every graft commit lands as its own Delta " +
      "commit; compact mirrors dataChange=false; idempotent; coalesce " +
      "collapses; refusals loud") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltaCommits(dir: String): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log")).toSeq
        .map(_.getPath.getName).filter(_.matches("\\d{20}\\.json"))
        .map(_.stripSuffix(".json").toLong).sorted
    def commitText(dir: String, v: Long): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        dir, f"_delta_log/$v%020d.json"))
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }

    // bootstrap through the mirror verb itself (no log yet → v0)
    val d = scratch("mirror")
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 3 === 0))
    assert(t.mirrorToDelta() == 0L)
    assert(DeltaLog.read(spark, d).exceptAll(t.read()).isEmpty)
    // already current → no-op at the same version
    assert(t.mirrorToDelta() == 0L && deltaCommits(d) == Seq(0L))

    // append + delete + compact, then mirror the backlog: one Delta
    // commit per graft version, read-equal at the head
    t.append(orders.where(col("o_orderkey") % 3 === 1))
    t.deleteWhere(col("o_orderkey") % 5 === 0)
    assert(t.versions.size == 3, s"fixture must commit 3 versions")
    t.compact()
    val head = t.mirrorToDelta()
    assert(head == 3L, s"expected Delta v3, got $head")
    assert(deltaCommits(d) == (0L to 3L))
    val viaDelta = DeltaLog.read(spark, d)
    assert(viaDelta.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(viaDelta).isEmpty)
    // the compact commit carries dataChange=false on every action
    val compactText = commitText(d, 3L)
    assert(compactText.contains("\"dataChange\":false") &&
      !compactText.contains("\"dataChange\":true"), compactText)
    // anchors recorded: the last commit names the graft version
    assert(commitText(d, 3L).contains("\"graftVersion\""))
    // idempotent again after the batch
    assert(t.mirrorToDelta() == 3L && deltaCommits(d) == (0L to 3L))

    // schema evolution mirrors a fresh metaData under the SAME id
    t.append(orders.where(col("o_orderkey") % 3 === 2)
      .withColumn("flag", lit(7L)))
    assert(t.mirrorToDelta() == 4L)
    val idOf = "\"id\":\"([^\"]+)\"".r
    val id0 = idOf.findFirstMatchIn(commitText(d, 0L)).get.group(1)
    val id4 = idOf.findFirstMatchIn(commitText(d, 4L)).get.group(1)
    assert(id0 == id4, s"metaData id must stay stable: $id0 vs $id4")
    val back = DeltaLog.read(spark, d)
    assert(back.schema.fieldNames.contains("flag"))
    assert(back.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(back).isEmpty)

    // coalesce: a multi-commit backlog lands as ONE Delta commit
    t.deleteWhere(col("o_orderkey") % 7 === 0)
    t.append(orders.where(col("o_orderkey") % 21 === 0)
      .withColumn("flag", lit(9L)))
    assert(t.mirrorToDelta(coalesce = true) == 5L)
    assert(deltaCommits(d) == (0L to 5L))
    val coalesced = DeltaLog.read(spark, d)
    assert(coalesced.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(coalesced).isEmpty)

    // refusal: a foreign _delta_log (no graft anchor) is never
    // appended to
    val df = scratch("mirror_foreign")
    val tf = TxTable(spark, df)
    tf.overwrite(orders.limit(20))
    val fx = DeltaFixture.writeData(spark, orders.limit(5), df, "x.parquet")
    DeltaFixture.commit(spark, df, 0, Seq(
      DeltaFixture.protocolJson(),
      DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(fx)))
    tf.append(orders.limit(10))
    val ef = intercept[Exception] { tf.mirrorToDelta() }
    assert(ef.getMessage.contains("foreign"), ef.getMessage)

    // a DV-carrying version mirrors WITHOUT a purge: the commit takes
    // the remove/re-add-with-descriptor shape, the protocol upgrades
    // to table features, and a Delta reader excludes the DV'd rows
    val dv = scratch("mirror_dv")
    val tv = TxTable(spark, dv, deletionVectors = true)
    tv.overwrite(orders.limit(100))
    tv.mirrorToDelta()
    tv.deleteWhere(col("o_orderkey") % 2 === 0)
    assert(tv.mirrorToDelta() == 1L)
    val backDv = DeltaLog.read(spark, dv)
    assert(backDv.exceptAll(tv.read()).isEmpty &&
      tv.read().exceptAll(backDv).isEmpty)
    assert(backDv.count() == tv.read().count())
    // the upgrade commit advertises the feature (reader 3 / writer 7)
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dv, "_delta_log",
        f"${1L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(log1.contains("\"minReaderVersion\":3") &&
      log1.contains("deletionVectors") &&
      log1.contains("\"deletionVector\""), log1)
    // a purge then mirrors as a plain rewrite and NEVER narrows the
    // protocol back down (features are monotone)
    tv.purgeDeletes(0.0)
    assert(tv.mirrorToDelta() == 2L)
    val log2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dv, "_delta_log",
        f"${2L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(!log2.contains("\"minReaderVersion\""),
      s"no protocol re-emission after the purge: $log2")
    val backPurged = DeltaLog.read(spark, dv)
    assert(backPurged.exceptAll(tv.read()).isEmpty &&
      tv.read().exceptAll(backPurged).isEmpty)
  }

  test("DV-bearing mirror round-trips: a second engine FOLLOWS the " +
      "mirrored log (protocol upgrade included) and matches; export " +
      "of a live-DV snapshot is read back exactly") {
    // mirror → follow: the mirrored DV commit (protocol upgrade +
    // remove/re-add-with-descriptor) is ingested incrementally by a
    // follower, which translates the descriptor back to its own
    // native sidecar
    val src = scratch("mirror_dv_src")
    val tv = TxTable(spark, src, deletionVectors = true)
    tv.overwrite(orders.limit(100))
    tv.mirrorToDelta()
    val follower = scratch("mirror_dv_follower")
    copyNew(src, follower)
    val tf = TxTable(spark, follower)
    assert(tf.followDelta() == 0L)
    tv.deleteWhere(col("o_orderkey") % 2 === 0)
    tv.mirrorToDelta()
    // ship ONLY the new Delta commit + the DV file to the follower
    // (the data files are already there) — a crude one-way sync
    copyNew(src, follower)
    tf.followDelta()
    assert(tf.read().exceptAll(tv.read()).isEmpty &&
      tv.read().exceptAll(tf.read()).isEmpty)
    assert(tf.read().count() == tv.read().count())

    // export: a snapshot already holding live DVs bootstraps a
    // feature-correct Delta log in one commit
    val ex = scratch("export_dv")
    val te = TxTable(spark, ex, deletionVectors = true)
    te.overwrite(orders.limit(60))
    te.deleteWhere(col("o_orderkey") % 3 === 0)
    assert(te.exportToDelta() == 0L)
    val log0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ex, "_delta_log",
        f"${0L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(log0.contains("\"minReaderVersion\":3") &&
      log0.contains("deletionVectors"), log0)
    val back = DeltaLog.read(spark, ex)
    assert(back.exceptAll(te.read()).isEmpty &&
      te.read().exceptAll(back).isEmpty)
    assert(back.count() == te.read().count())
  }

  test("auto-mirror property: commits tail-publish with no manual call; " +
      "mirror failures never surface to the writer") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltaCount(dir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir, "_delta_log")
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.matches("\\d{20}\\.json"))
    }
    val d = scratch("auto_mirror")
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 4 === 0))
    assert(deltaCount(d) == 0, "no mirror before the property")
    // the property-setting commit itself bootstraps the mirror
    t.setProperties(Map(TxTable.PropDeltaMirror -> "true"))
    assert(deltaCount(d) == 1)
    // subsequent commits tail-publish hands-free
    t.append(orders.where(col("o_orderkey") % 4 === 1))
    t.deleteWhere(col("o_orderkey") % 9 === 0)
    assert(deltaCount(d) == 3)
    val back = DeltaLog.read(spark, d)
    assert(back.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(back).isEmpty)

    // a DV'd commit auto-mirrors IMMEDIATELY (merge-on-read shape +
    // protocol upgrade) — no hold, no forced purge; the purge then
    // mirrors as its own plain commit
    val dv = scratch("auto_mirror_dv")
    val tv = TxTable(spark, dv, deletionVectors = true)
    tv.overwrite(orders.limit(80))
    tv.setProperties(Map(TxTable.PropDeltaMirror -> "true"))
    assert(deltaCount(dv) == 1)
    val vBefore = tv.versions.size
    tv.deleteWhere(col("o_orderkey") % 2 === 0) // DV'd commit
    assert(tv.versions.size == vBefore + 1, "the write must land")
    assert(deltaCount(dv) == 2, "the DV'd commit mirrors immediately")
    val backMid = DeltaLog.read(spark, dv)
    assert(backMid.exceptAll(tv.read()).isEmpty &&
      tv.read().exceptAll(backMid).isEmpty)
    tv.purgeDeletes(0.0)
    assert(deltaCount(dv) == 3)
    val backDv = DeltaLog.read(spark, dv)
    assert(backDv.exceptAll(tv.read()).isEmpty &&
      tv.read().exceptAll(backDv).isEmpty)
  }

  test("unsupported protocol features refuse LOUDLY, never misread") {
    // reader 3 with an unimplemented feature (v2Checkpoint graduated
    // to supported — typeWidening stands in as the future feature)
    val rv = scratch("rv3feat")
    val f2 = DeltaFixture.writeData(spark, orders.limit(50), rv, "p.parquet")
    DeltaFixture.commit(spark, rv, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("deletionVectors", "typeWidening")),
      DeltaFixture.metaDataJson(orders.schema), DeltaFixture.addJson(f2)))
    val e2 = intercept[Exception] { DeltaLog.snapshot(spark, rv) }
    assert(e2.getMessage.contains("typeWidening"), e2.getMessage)
    // ... while a reader-3 table declaring v2Checkpoint (no actual
    // checkpoint written yet) reads fine
    val rv2 = scratch("rv3v2ok")
    val f2b = DeltaFixture.writeData(spark, orders.limit(50), rv2, "p.parquet")
    DeltaFixture.commit(spark, rv2, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("v2Checkpoint")),
      DeltaFixture.metaDataJson(orders.schema), DeltaFixture.addJson(f2b)))
    assert(DeltaLog.read(spark, rv2).count() == 50)

    // id mode WITHOUT the mapping metadata = corrupt, refuses
    val cm = scratch("cmapid")
    val f3 = DeltaFixture.writeData(spark, orders.limit(50), cm, "p.parquet")
    DeltaFixture.commit(spark, cm, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(orders.schema,
        config = Map("delta.columnMapping.mode" -> "id")),
      DeltaFixture.addJson(f3)))
    val e3 = intercept[Exception] { DeltaLog.snapshot(spark, cm) }
    assert(e3.getMessage.contains("physicalName") ||
      e3.getMessage.contains("columnMapping"), e3.getMessage)
    // an unknown future mode still refuses by name
    val cx = scratch("cmapx")
    val f3x = DeltaFixture.writeData(spark, orders.limit(50), cx, "p.parquet")
    DeltaFixture.commit(spark, cx, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(orders.schema,
        config = Map("delta.columnMapping.mode" -> "hybrid")),
      DeltaFixture.addJson(f3x)))
    val e3x = intercept[Exception] { DeltaLog.snapshot(spark, cx) }
    assert(e3x.getMessage.contains("hybrid"), e3x.getMessage)

    // name mode WITHOUT physicalName metadata = corrupt metadata
    val cn = scratch("cmapnometa")
    val f3b = DeltaFixture.writeData(spark, orders.limit(50), cn, "p.parquet")
    DeltaFixture.commit(spark, cn, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(orders.schema,
        config = Map("delta.columnMapping.mode" -> "name")),
      DeltaFixture.addJson(f3b)))
    val e3b = intercept[Exception] { DeltaLog.snapshot(spark, cn) }
    assert(e3b.getMessage.contains("physicalName") ||
      e3b.getMessage.contains("delta.columnMapping"), e3b.getMessage)

    // a DV whose cardinality disagrees with its bitmap = corrupt table
    val dvbad = scratch("dvbadcard")
    val (f6, pos6) = dvSubstrate(dvbad)
    val dv6 = DeltaFixture.writeDv(spark, dvbad, pos6)
    DeltaFixture.commit(spark, dvbad, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("deletionVectors")),
      DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(f6,
        deletionVector = Some(dv6.copy(cardinality = dv6.cardinality + 1)))))
    val e6 = intercept[Exception] { DeltaLog.read(spark, dvbad).collect() }
    assert(e6.getMessage.contains("cardinality"), e6.getMessage)

    // log gap = corrupt
    val gap = scratch("gap")
    val f4 = DeltaFixture.writeData(spark, orders.limit(50), gap, "p.parquet")
    DeltaFixture.commit(spark, gap, 0, Seq(
      DeltaFixture.protocolJson(), DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(f4)))
    DeltaFixture.commit(spark, gap, 2, Seq(DeltaFixture.addJson(f4)))
    val e4 = intercept[Exception] { DeltaLog.snapshot(spark, gap) }
    assert(e4.getMessage.contains("gap"), e4.getMessage)

    // stale _last_checkpoint over a cleaned log: first surviving
    // commit is NOT checkpoint+1 — refuse, never replay on a stale base
    val stale = scratch("stale")
    val f7 = DeltaFixture.writeData(spark, orders.limit(50), stale, "p.parquet")
    DeltaFixture.checkpoint(spark, stale, 0, orders.schema, Nil,
      Seq((f7, Map.empty[String, String], None)))
    DeltaFixture.commit(spark, stale, 2, Seq(DeltaFixture.addJson(f7)))
    val e7 = intercept[Exception] { DeltaLog.snapshot(spark, stale) }
    assert(e7.getMessage.contains("stale"), e7.getMessage)

    // partitioned zero-copy convert refuses toward the copy path
    val pc = scratch("pconv")
    val f5 = DeltaFixture.writeData(spark,
      orders.drop("o_orderpriority"), pc, "pr=HIGH/p.parquet")
    DeltaFixture.commit(spark, pc, 0, Seq(
      DeltaFixture.protocolJson(),
      DeltaFixture.metaDataJson(orders.schema, Seq("o_orderpriority")),
      DeltaFixture.addJson(f5, Map("o_orderpriority" -> "HIGH"))))
    val e5 = intercept[Exception] { TxTable.convertFromDelta(spark, pc) }
    assert(e5.getMessage.contains("partition"), e5.getMessage)
  }

  test("id-mode column mapping: batch AND streaming reads resolve by " +
      "parquet FIELD ID (file names deliberately useless); zero-copy " +
      "convert of name-drifted files refuses by path") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val dir = scratch("cmid_real")
    val data = orders.where(col("o_orderkey") % 7 === 0)
    // the data file's column NAMES match nothing anywhere — only the
    // embedded parquet field ids line up with the table metadata
    val f = DeltaFixture.writeDataWithFieldIds(spark, data, dir,
      "p.parquet", Seq("f1", "f2", "f3"), Seq(11L, 12L, 13L))
    val logical = DeltaFixture.idMappedSchema(Seq(
      ("okey", LongType, "col-aaaa", 11L),
      ("price", DoubleType, "col-bbbb", 12L),
      ("priority", StringType, "col-cccc", 13L)))
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(logical,
        config = Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "13")),
      DeltaFixture.addJson(f)))
    val snap = DeltaLog.snapshot(spark, dir)
    assert(snap.cmMode == "id")
    val got = DeltaLog.read(spark, dir)
    assert(got.schema.fieldNames.toSeq == Seq("okey", "price", "priority"))
    val want = data.toDF("okey", "price", "priority")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // streaming: the field-id conf rides each microbatch's pinned-
    // session relation into the stream — snapshot batch plus a tail
    // commit both resolve by id despite the useless file names
    val out = EventsStream.scratchDir("cmid_stream")
    def drain(): Unit = {
      val q = spark.readStream.format("delta-log").load(dir)
        .writeStream.format("parquet")
        .option("path", s"$out/rows").option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // batch 0: pinned snapshot
    val data2 = orders.where(col("o_orderkey") % 7 === 1)
    val f2 = DeltaFixture.writeDataWithFieldIds(spark, data2, dir,
      "p2.parquet", Seq("g1", "g2", "g3"), Seq(11L, 12L, 13L))
    DeltaFixture.commit(spark, dir, 1, Seq(DeltaFixture.addJson(f2)))
    drain() // tail window: only commit 1's file
    val streamed = spark.read.parquet(s"$out/rows")
    val wantStream = orders.where(col("o_orderkey") % 7 <= 1)
      .toDF("okey", "price", "priority")
    assert(streamed.count() == wantStream.count() && streamed.count() > 0)
    assert(streamed.exceptAll(wantStream).isEmpty &&
      wantStream.exceptAll(streamed).isEmpty)

    // zero-copy convert: these files' NAMES drift from the metaData
    // physical names (the Iceberg-convert hazard) — the footer check
    // refuses by path toward the copy path
    val ec = intercept[Exception] { TxTable.convertFromDelta(spark, dir) }
    assert(ec.getMessage.contains("id-mode"), ec.getMessage)
  }

  test("id-mode zero-copy convert: Delta-writer-shaped files (names " +
      "match the physical names) adopt via the footer check; the " +
      "followed table reads and follows like name mode") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val dir = scratch("cmid_convert")
    val data = orders.where(col("o_orderkey") % 5 === 0)
    // Delta-writer shape: file columns carry BOTH the physical names
    // and the field ids — names are as trustworthy as name mode
    val f = DeltaFixture.writeDataWithFieldIds(spark, data, dir,
      "p.parquet", Seq("col-aaaa", "col-bbbb", "col-cccc"),
      Seq(11L, 12L, 13L))
    val logical = DeltaFixture.idMappedSchema(Seq(
      ("okey", LongType, "col-aaaa", 11L),
      ("price", DoubleType, "col-bbbb", 12L),
      ("priority", StringType, "col-cccc", 13L)))
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(logical,
        config = Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "13")),
      DeltaFixture.addJson(f)))
    val t = TxTable.convertFromDelta(spark, dir)
    val got = t.read()
    assert(got.schema.fieldNames.toSeq == Seq("okey", "price", "priority"))
    val want = data.toDF("okey", "price", "priority")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // incremental follow of an id-mode upstream: same window machinery
    val f2 = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 1), dir, "p2.parquet",
      Seq("col-aaaa", "col-bbbb", "col-cccc"), Seq(11L, 12L, 13L))
    DeltaFixture.commit(spark, dir, 1, Seq(DeltaFixture.addJson(f2)))
    t.followDelta()
    assert(t.lastTxn(TxTable.FollowTxnId).contains(1L))
    val want2 = orders.where(col("o_orderkey") % 5 <= 1)
      .toDF("okey", "price", "priority")
    assert(t.read().exceptAll(want2).isEmpty &&
      want2.exceptAll(t.read()).isEmpty)
    // a NAME-DRIFTED file arriving in a LATER window (the Iceberg
    // pre-rename hazard, now past the convert-time check) must refuse
    // by path — adopting it would read silent nulls
    val f3 = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 2), dir, "p3.parquet",
      Seq("h1", "h2", "h3"), Seq(11L, 12L, 13L))
    DeltaFixture.commit(spark, dir, 2, Seq(DeltaFixture.addJson(f3)))
    val drift = intercept[Exception] { t.followDelta() }
    assert(drift.getMessage.contains("p3.parquet") &&
      drift.getMessage.contains("lacks physical"), drift.getMessage)
    // the table is untouched by the refused window
    assert(t.lastTxn(TxTable.FollowTxnId).contains(1L))
    assert(t.read().count() == want2.count())
  }

  test("id-mode follow across an in-window widening: post-widening adds " +
      "are verified against the WIDENED physical names (a new-column " +
      "name drift refuses by path); pre-widening adds stay exempt") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val dir = scratch("cmid_widen")
    val ids = Seq(11L, 12L, 13L)
    val names = Seq("col-aaaa", "col-bbbb", "col-cccc")
    val f = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 0), dir, "w0.parquet",
      names, ids)
    val logical = DeltaFixture.idMappedSchema(Seq(
      ("okey", LongType, "col-aaaa", 11L),
      ("price", DoubleType, "col-bbbb", 12L),
      ("priority", StringType, "col-cccc", 13L)))
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(logical,
        config = Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "13")),
      DeltaFixture.addJson(f)))
    val t = TxTable.convertFromDelta(spark, dir)
    // ONE window holding a pre-widening add (3 columns — legitimately
    // lacks the new one) AND the widening commit shipping a 4-column
    // file: both verify, each against the schema in force at its own
    // commit
    val pre = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 1), dir, "w1.parquet",
      names, ids)
    DeltaFixture.commit(spark, dir, 1, Seq(DeltaFixture.addJson(pre)))
    val widened = DeltaFixture.idMappedSchema(Seq(
      ("okey", LongType, "col-aaaa", 11L),
      ("price", DoubleType, "col-bbbb", 12L),
      ("priority", StringType, "col-cccc", 13L),
      ("note", StringType, "col-dddd", 14L)))
    val post = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 2)
        .withColumn("o_note", concat(lit("n"), col("o_orderkey"))),
      dir, "w2.parquet", names :+ "col-dddd", ids :+ 14L)
    DeltaFixture.commit(spark, dir, 2, Seq(
      DeltaFixture.metaDataJson(widened,
        config = Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "14")),
      DeltaFixture.addJson(post)))
    t.followDelta()
    assert(t.lastTxn(TxTable.FollowTxnId).contains(2L))
    assert(t.read().schema.fieldNames.contains("note"))
    assert(t.read().where(col("note").isNotNull).count() ==
      orders.where(col("o_orderkey") % 5 === 2).count(),
      "only the post-widening file carries the new column")
    // a post-widening file that names the new column wrong (ids
    // right, name drifted — the Iceberg pre-rename shape on the NEW
    // column only) arriving in the SAME window as its widening must
    // refuse by path: verifying against the ANCHOR schema (which
    // predates this widening) would let it through as silent nulls
    val widened2 = DeltaFixture.idMappedSchema(Seq(
      ("okey", LongType, "col-aaaa", 11L),
      ("price", DoubleType, "col-bbbb", 12L),
      ("priority", StringType, "col-cccc", 13L),
      ("note", StringType, "col-dddd", 14L),
      ("note2", StringType, "col-eeee", 15L)))
    val ok2 = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 3)
        .withColumn("o_note", lit("a")).withColumn("o_note2", lit("b")),
      dir, "w3.parquet", names ++ Seq("col-dddd", "col-eeee"),
      ids ++ Seq(14L, 15L))
    DeltaFixture.commit(spark, dir, 3, Seq(
      DeltaFixture.metaDataJson(widened2,
        config = Map("delta.columnMapping.mode" -> "id",
          "delta.columnMapping.maxColumnId" -> "15")),
      DeltaFixture.addJson(ok2)))
    val drifted = DeltaFixture.writeDataWithFieldIds(spark,
      orders.where(col("o_orderkey") % 5 === 4)
        .withColumn("o_note", lit("x")).withColumn("o_note2", lit("y")),
      dir, "w4.parquet", names ++ Seq("col-dddd", "col-XXXX"),
      ids ++ Seq(14L, 15L))
    DeltaFixture.commit(spark, dir, 4, Seq(DeltaFixture.addJson(drifted)))
    val e = intercept[Exception] { t.followDelta() }
    assert(e.getMessage.contains("w4.parquet") &&
      e.getMessage.contains("col-eeee"), e.getMessage)
    assert(t.lastTxn(TxTable.FollowTxnId).contains(2L),
      "the refused window must not advance the anchor")
  }

  test("v2 checkpoint: UUID parquet manifest + sidecar, JSON manifest " +
      "with inline adds, JSON commits replay on top; missing sidecars " +
      "refuse") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // parquet manifest whose file actions live in a _sidecars parquet
    val d1 = scratch("v2cp_parquet")
    val a = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 0), d1, "part-a.parquet")
    val b = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 1), d1, "part-b.parquet")
    DeltaFixture.checkpointV2(spark, d1, 1, orders.schema, Nil,
      Seq((a, Map.empty[String, String],
          Some(DeltaFixture.statsJson(a.rows))),
        (b, Map.empty[String, String],
          Some(DeltaFixture.statsJson(b.rows)))),
      manifestFormat = "parquet", sidecar = true)
    // a JSON commit after the checkpoint replays on top
    val c = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 2), d1, "part-c.parquet")
    DeltaFixture.commit(spark, d1, 2, Seq(DeltaFixture.addJson(c)))
    val snap = DeltaLog.snapshot(spark, d1)
    assert(snap.version == 2)
    assert(snap.adds.map(_.path).sorted ==
      Seq("part-a.parquet", "part-b.parquet", "part-c.parquet"))
    assert(snap.adds.filter(_.path != "part-c.parquet").forall(_.rows > 0),
      "sidecar add stats must carry")
    val got = DeltaLog.read(spark, d1)
    assert(got.count() == orders.count())
    assert(got.exceptAll(orders).isEmpty && orders.exceptAll(got).isEmpty)

    // JSON manifest carrying the adds INLINE (no sidecars)
    val d2 = scratch("v2cp_json")
    val a2 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 0), d2, "part-a.parquet")
    DeltaFixture.checkpointV2(spark, d2, 0, orders.schema, Nil,
      Seq((a2, Map.empty[String, String], None)),
      manifestFormat = "json", sidecar = false)
    val got2 = DeltaLog.read(spark, d2)
    assert(got2.count() ==
      orders.where(col("o_orderkey") % 3 === 0).count())

    // JSON manifest + sidecar reads too, and the sidecar going
    // missing refuses with the sidecar named
    val d3 = scratch("v2cp_json_sc")
    val a3 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 1), d3, "part-b.parquet")
    DeltaFixture.checkpointV2(spark, d3, 0, orders.schema, Nil,
      Seq((a3, Map.empty[String, String], None)),
      manifestFormat = "json", sidecar = true)
    assert(DeltaLog.read(spark, d3).count() ==
      orders.where(col("o_orderkey") % 3 === 1).count())
    val scDir = new org.apache.hadoop.fs.Path(d3, "_delta_log/_sidecars")
    fs.listStatus(scDir).foreach(st => fs.delete(st.getPath, false))
    val esc = intercept[Exception] { DeltaLog.snapshot(spark, d3) }
    assert(esc.getMessage.contains("sidecar"), esc.getMessage)
  }

  test("followDelta: bootstrap converts and anchors; incremental windows " +
      "append exactly-once; restart resumes from the manifest; " +
      "remove-bearing windows follow as metadata-only drops; DV re-adds " +
      "translate; additive widenings adopt; unknown-path removes and " +
      "non-widening metaData changes refuse-then-reset; " +
      "non-followers refuse") {
    val dir = scratch("follow")
    val a = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 0), dir, "part-a.parquet")
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(), DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(a, stats = Some(DeltaFixture.statsJson(a.rows)))))
    val t = TxTable(spark, dir)
    // bootstrap: zero-copy convert, anchor = delta v0
    assert(t.followDelta() == 0L)
    assert(t.lastTxn(TxTable.FollowTxnId).contains(0L))
    assert(t.read().count() ==
      orders.where(col("o_orderkey") % 4 === 0).count())
    // caught up → no-op, no new graft version
    assert(t.followDelta() == 0L && t.versions == Seq(0L))

    // two foreign appends → ONE graft append, anchor advanced with it
    val b = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 1), dir, "part-b.parquet")
    DeltaFixture.commit(spark, dir, 1, Seq(DeltaFixture.addJson(b)))
    val c = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 2), dir, "part-c.parquet")
    DeltaFixture.commit(spark, dir, 2, Seq(DeltaFixture.addJson(c)))
    assert(t.followDelta() == 1L)
    assert(t.versions == Seq(0L, 1L), "one append per follow call")
    assert(t.lastTxn(TxTable.FollowTxnId).contains(2L))
    val want01 = orders.where(col("o_orderkey") % 4 <= 2)
    assert(t.read().exceptAll(want01).isEmpty &&
      want01.exceptAll(t.read()).isEmpty)

    // RESTART: a fresh handle resumes from the manifest anchor alone
    val t2 = TxTable(spark, dir)
    assert(t2.followDelta() == 1L, "caught-up restart must no-op")
    val d2 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 3), dir, "part-d2.parquet")
    DeltaFixture.commit(spark, dir, 3, Seq(DeltaFixture.addJson(d2)))
    assert(t2.followDelta() == 2L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(3L))

    // a remove-bearing foreign commit follows INCREMENTALLY: the drop
    // is a metadata-only manifest drop (one graft DELETE commit, no
    // data file touched, no re-snapshot)
    DeltaFixture.commit(spark, dir, 4,
      Seq(DeltaFixture.removeJson(a.relPath)))
    assert(t2.followDelta() == 3L)
    assert(t2.versions == Seq(0L, 1L, 2L, 3L), "one commit per window")
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(4L))
    val wantHead = orders.where(col("o_orderkey") % 4 =!= 0)
    assert(t2.read().exceptAll(wantHead).isEmpty &&
      wantHead.exceptAll(t2.read()).isEmpty)
    // a remove+add rewrite window (the upstream CoW DELETE/MERGE
    // shape): part-b's rows rewritten as part-b2 → one REPLACE-shaped
    // commit, table content unchanged
    val b2 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 1), dir, "part-b2.parquet")
    DeltaFixture.commit(spark, dir, 5, Seq(
      DeltaFixture.removeJson(b.relPath), DeltaFixture.addJson(b2)))
    assert(t2.followDelta() == 4L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(5L))
    assert(t2.read().exceptAll(wantHead).isEmpty &&
      wantHead.exceptAll(t2.read()).isEmpty)
    // an add-then-remove inside ONE window nets to nothing: the
    // removed path was never in the manifest, and the follower must
    // recognize it as window-local instead of refusing
    val f2 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 8 === 6), dir, "part-f.parquet")
    DeltaFixture.commit(spark, dir, 6, Seq(DeltaFixture.addJson(f2)))
    DeltaFixture.commit(spark, dir, 7, Seq(
      DeltaFixture.removeJson(f2.relPath)))
    assert(t2.followDelta() == 5L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(7L))
    assert(t2.read().exceptAll(wantHead).isEmpty &&
      wantHead.exceptAll(t2.read()).isEmpty)
    // a remove of a path this follower has never seen = the two logs'
    // path spellings drifted — refuse loudly (silently keeping the
    // file would serve upstream-deleted rows), reset recovers
    DeltaFixture.commit(spark, dir, 8, Seq(
      DeltaFixture.removeJson("no-such-file.parquet")))
    val drift = intercept[Exception] { t2.followDelta() }
    assert(drift.getMessage.contains("unknown file"), drift.getMessage)
    assert(t2.followDelta(reset = true) == 6L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(8L))
    // an ADDITIVE widening metaData (the foreign ALTER TABLE ADD
    // COLUMN) follows incrementally: the window publishes under the
    // widened schema; files predating the column read it as null
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val widened = StructType(orders.schema.fields :+
      StructField("o_note", StringType, nullable = true))
    val g2 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 16 === 8)
        .withColumn("o_note", concat(lit("n"), col("o_orderkey"))),
      dir, "part-g.parquet")
    DeltaFixture.commit(spark, dir, 9, Seq(
      DeltaFixture.metaDataJson(widened), DeltaFixture.addJson(g2)))
    assert(t2.followDelta() == 7L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(9L))
    assert(t2.read().schema.fieldNames.contains("o_note"))
    assert(t2.read().where(col("o_note").isNotNull).count() ==
      orders.where(col("o_orderkey") % 16 === 8).count(),
      "only the post-widening file carries the new column")
    // further appends (files WITHOUT the new column) follow under the
    // widened schema — the column reads null for them
    val e2 = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 8 === 4), dir, "part-e.parquet")
    DeltaFixture.commit(spark, dir, 10, Seq(DeltaFixture.addJson(e2)))
    assert(t2.followDelta() == 8L)
    // a DV-bearing re-add (upstream merge-on-read DELETE: remove the
    // old entry, add the same file back with a deletion vector)
    // follows incrementally too — the window translates the DV to the
    // engine's native sidecar, and the commit is REPLACE-shaped so
    // change consumers see a rewrite, never an append
    val ePositions = spark.read.parquet(s"$dir/part-e.parquet")
      .select(col("_metadata.row_index"), col("o_orderkey"))
      .where(col("o_orderkey") % 16 === 4)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ePositions.nonEmpty, "fixture must DV-delete something")
    val eDv = DeltaFixture.writeDv(spark, dir, ePositions)
    DeltaFixture.commit(spark, dir, 11, Seq(
      DeltaFixture.removeJson(e2.relPath),
      DeltaFixture.addJson(e2, deletionVector = Some(eDv))))
    assert(t2.followDelta() == 9L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(11L))
    val got3 = t2.read()
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    val wantDv = orders.where(col("o_orderkey") % 4 =!= 0)
      .unionByName(orders.where(col("o_orderkey") % 16 === 8))
      .unionByName(orders.where(col("o_orderkey") % 8 === 4 &&
        col("o_orderkey") % 16 =!= 4))
    assert(got3.exceptAll(wantDv).isEmpty &&
      wantDv.exceptAll(got3).isEmpty)
    // a NON-widening metaData change (retype) still refuses with the
    // reset signal; the reset re-snapshots and re-anchors
    val retyped = StructType(widened.fields.map(f =>
      if (f.name == "o_totalprice") f.copy(dataType = StringType) else f))
    DeltaFixture.commit(spark, dir, 12,
      Seq(DeltaFixture.metaDataJson(retyped)))
    val er = intercept[Exception] { t2.followDelta() }
    assert(er.getMessage.contains("retypes"), er.getMessage)
    assert(t2.followDelta(reset = true) == 10L)
    assert(t2.lastTxn(TxTable.FollowTxnId).contains(12L))

    // a COLUMN-MAPPED foreign table follows too: physical file
    // columns, logical surface, incremental windows with
    // physically-keyed stats
    val cm = scratch("follow_cm")
    val cmSchema = DeltaFixture.mappedSchema(Seq(
      ("okey", org.apache.spark.sql.types.LongType, "col-aa"),
      ("price", org.apache.spark.sql.types.DoubleType, "col-bb")))
    val cmData = orders.select(col("o_orderkey").as("col-aa"),
      col("o_totalprice").as("col-bb"))
    val ca = DeltaFixture.writeData(spark,
      cmData.where(col("`col-aa`") % 2 === 0), cm, "a.parquet")
    DeltaFixture.commit(spark, cm, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(cmSchema,
        config = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "2")),
      DeltaFixture.addJson(ca)))
    val tc = TxTable(spark, cm)
    assert(tc.followDelta() == 0L)
    val cb = DeltaFixture.writeData(spark,
      cmData.where(col("`col-aa`") % 2 === 1), cm, "b.parquet")
    DeltaFixture.commit(spark, cm, 1, Seq(DeltaFixture.addJson(cb,
      stats = Some(DeltaFixture.statsJson(cb.rows)))))
    assert(tc.followDelta() == 1L)
    val gotCm = tc.read()
    assert(gotCm.schema.fieldNames.toSeq == Seq("okey", "price"))
    val wantCm = orders.select(col("o_orderkey").as("okey"),
      col("o_totalprice").as("price"))
    assert(gotCm.exceptAll(wantCm).isEmpty && wantCm.exceptAll(gotCm).isEmpty)

    // a graft table that was never bootstrapped as a follower refuses
    val plain = scratch("follow_plain")
    val tp = TxTable(spark, plain)
    tp.overwrite(orders.limit(10))
    tp.exportToDelta() // has a _delta_log, but no follow anchor
    val ep = intercept[Exception] { tp.followDelta() }
    assert(ep.getMessage.contains(TxTable.FollowTxnId), ep.getMessage)
  }

  test("followDelta foreign-rename adoption: a name-mode rename follows " +
      "as a metadata-only window (values intact, later files still " +
      "resolve); an UNMAPPED rename still refuses toward reset") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dir = scratch("follow_rename")
    val cmSchema = DeltaFixture.mappedSchema(Seq(
      ("okey", LongType, "col-aa"), ("price", DoubleType, "col-bb")))
    val cmData = orders.select(col("o_orderkey").as("col-aa"),
      col("o_totalprice").as("col-bb"))
    val f = DeltaFixture.writeData(spark,
      cmData.where(col("col-aa") % 3 === 0), dir, "r0.parquet")
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 2, minWriter = 5),
      DeltaFixture.metaDataJson(cmSchema,
        config = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "2")),
      DeltaFixture.addJson(f)))
    val t = TxTable(spark, dir)
    assert(t.followDelta() == 0L)
    assert(t.read().schema.fieldNames.toSeq == Seq("okey", "price"))
    // the foreign ALTER TABLE RENAME COLUMN: okey → order_id, the
    // physical col-aa frozen — ONE metadata-only graft commit
    val renamed = DeltaFixture.mappedSchema(Seq(
      ("order_id", LongType, "col-aa"), ("price", DoubleType, "col-bb")))
    DeltaFixture.commit(spark, dir, 1, Seq(
      DeltaFixture.metaDataJson(renamed,
        config = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "2"))))
    assert(t.followDelta() == 1L)
    assert(t.lastTxn(TxTable.FollowTxnId).contains(1L))
    assert(t.read().schema.fieldNames.toSeq == Seq("order_id", "price"))
    val want0 = orders.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey").as("order_id"),
        col("o_totalprice").as("price"))
    assert(t.read().exceptAll(want0).isEmpty &&
      want0.exceptAll(t.read()).isEmpty, "values ride the rename intact")
    // a post-rename append (physical names unchanged) still follows
    val f2 = DeltaFixture.writeData(spark,
      cmData.where(col("col-aa") % 3 === 1), dir, "r1.parquet")
    DeltaFixture.commit(spark, dir, 2, Seq(DeltaFixture.addJson(f2)))
    assert(t.followDelta() == 2L)
    assert(t.read().count() ==
      orders.where(col("o_orderkey") % 3 <= 1).count())
    // refusal matrix: WITHOUT column mapping a rename is
    // indistinguishable from drop+add — refuse toward reset, and the
    // reset re-snapshots under the new name
    val d2 = scratch("follow_rename_plain")
    val g = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 5 === 0), d2, "p0.parquet")
    DeltaFixture.commit(spark, d2, 0, Seq(DeltaFixture.protocolJson(),
      DeltaFixture.metaDataJson(orders.schema), DeltaFixture.addJson(g)))
    val t2 = TxTable(spark, d2)
    assert(t2.followDelta() == 0L)
    val plainRenamed = StructType(orders.schema.fields.map(x =>
      if (x.name == "o_orderkey") x.copy(name = "okey") else x))
    DeltaFixture.commit(spark, d2, 1, Seq(
      DeltaFixture.metaDataJson(plainRenamed)))
    val e = intercept[Exception] { t2.followDelta() }
    assert(e.getMessage.contains("DROPS") &&
      e.getMessage.contains("column mapping"), e.getMessage)
    assert(t2.followDelta(reset = true) == 1L)
    assert(t2.read().schema.fieldNames.contains("okey"))
  }

  test("followDelta catch-up past retention: an aged-out window falls " +
      "back to a checkpoint snapshot-diff — ONE net commit, exact " +
      "anchors, DV drift (even at equal cardinality) detected, " +
      "zero-drift lapses still advance the anchor") {
    val dir = scratch("follow_lapse")
    val fx = DeltaFixture
    def cleanJson(v: Long*): Unit = v.foreach { i =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        dir, "_delta_log", f"$i%020d.json")); ()
    }
    val a = fx.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 0), dir, "part-la.parquet")
    fx.commit(spark, dir, 0, Seq(fx.protocolJson(),
      fx.metaDataJson(orders.schema), fx.addJson(a)))
    val t = TxTable(spark, dir)
    assert(t.followDelta() == 0L) // anchor = delta v0
    // upstream evolves while the follower sleeps: append (v1), a CoW
    // rewrite of part-la (v2), a DV'd add (v3) — then a checkpoint at
    // v3 and retention cleaning every JSON commit
    val b = fx.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 1), dir, "part-lb.parquet")
    fx.commit(spark, dir, 1, Seq(fx.addJson(b)))
    val c = fx.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 0), dir, "part-lc.parquet")
    fx.commit(spark, dir, 2, Seq(fx.removeJson(a.relPath), fx.addJson(c)))
    val d = fx.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 2), dir, "part-ld.parquet")
    val dPos1 = spark.read.parquet(s"$dir/part-ld.parquet")
      .select(col("_metadata.row_index")).where(col("o_orderkey") % 16 === 2)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(dPos1.size >= 2, "fixture needs DV'd rows")
    val dv1 = fx.writeDv(spark, dir, dPos1)
    fx.commit(spark, dir, 3, Seq(fx.addJson(d, deletionVector = Some(dv1))))
    fx.checkpoint(spark, dir, 3, orders.schema, Nil,
      Seq((b, Map.empty[String, String], None),
        (c, Map.empty[String, String], None),
        (d, Map.empty[String, String], None)),
      dvFor = Map(d.relPath -> dv1), protocol = (3, 7))
    cleanJson(0L, 1L, 2L, 3L)
    assert(t.followDelta() == 1L, "ONE net catch-up commit")
    assert(t.lastTxn(TxTable.FollowTxnId).contains(3L), "anchor exact")
    assert(t.versions == Seq(0L, 1L))
    val want3 = orders.where(col("o_orderkey") % 4 <= 2 &&
      !(col("o_orderkey") % 4 === 2 && col("o_orderkey") % 16 === 2))
    assert(t.read().exceptAll(want3).isEmpty &&
      want3.exceptAll(t.read()).isEmpty, "head state exact after lapse")
    // normal incremental windows resume from the caught-up anchor
    val e = fx.writeData(spark,
      orders.where(col("o_orderkey") % 4 === 3), dir, "part-le.parquet")
    fx.commit(spark, dir, 4, Seq(fx.addJson(e)))
    assert(t.followDelta() == 2L)
    assert(t.lastTxn(TxTable.FollowTxnId).contains(4L))
    // the RESTORE corner across a lapse: same file, same size/mtime,
    // same CARDINALITY, different positions — only the exact
    // position comparison can see it
    val rows = spark.read.parquet(s"$dir/part-ld.parquet").count()
    val fresh = (0L until rows).find(i => !dPos1.contains(i)).get
    val dPos2 = (dPos1.drop(1) :+ fresh).sorted
    assert(dPos2.size == dPos1.size && dPos2 != dPos1)
    val dv2 = fx.writeDv(spark, dir, dPos2)
    fx.commit(spark, dir, 5, Seq(fx.removeJson(d.relPath),
      fx.addJson(d, deletionVector = Some(dv2))))
    fx.checkpoint(spark, dir, 5, orders.schema, Nil,
      Seq((b, Map.empty[String, String], None),
        (c, Map.empty[String, String], None),
        (d, Map.empty[String, String], None),
        (e, Map.empty[String, String], None)),
      dvFor = Map(d.relPath -> dv2), protocol = (3, 7))
    cleanJson(4L, 5L)
    assert(t.followDelta() == 3L)
    assert(t.lastTxn(TxTable.FollowTxnId).contains(5L))
    val want5 = orders.where(!(col("o_orderkey") % 4 === 2 &&
      col("o_orderkey") % 16 === 2))
    // the restored row (old position 0 of dPos1) is visible again and
    // the freshly-deleted one is gone — verify via exact content
    val gotKeys = t.read().select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val restoredKey = spark.read.parquet(s"$dir/part-ld.parquet")
      .where(col("_metadata.row_index") === dPos1.head)
      .select("o_orderkey").collect().head.getLong(0)
    val freshlyDeleted = spark.read.parquet(s"$dir/part-ld.parquet")
      .where(col("_metadata.row_index") === fresh)
      .select("o_orderkey").collect().head.getLong(0)
    assert(gotKeys.contains(restoredKey), "restored row visible")
    assert(!gotKeys.contains(freshlyDeleted), "newly-deleted row hidden")
    // a zero-drift lapse (checkpoint advanced, nothing changed) still
    // advances the anchor — otherwise every later follow re-diffs
    fx.checkpoint(spark, dir, 6, orders.schema, Nil,
      Seq((b, Map.empty[String, String], None),
        (c, Map.empty[String, String], None),
        (d, Map.empty[String, String], None),
        (e, Map.empty[String, String], None)),
      dvFor = Map(d.relPath -> dv2), protocol = (3, 7))
    val before = t.read().count()
    assert(t.followDelta() == 4L)
    assert(t.lastTxn(TxTable.FollowTxnId).contains(6L))
    assert(t.read().count() == before, "zero drift, zero row change")
  }

  test("followDelta: a SHRINKING DV re-add (upstream RESTORE) resurfaces " +
      "the restored rows — sidecar scoping is per entry, so another " +
      "file's pin on the older shared sidecar cannot re-hide them") {
    val dir = scratch("follow_restore")
    val a = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 2 === 0), dir, "part-ra.parquet")
    val b = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 2 === 1), dir, "part-rb.parquet")
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(minReader = 3, minWriter = 7,
        readerFeatures = Seq("deletionVectors"),
        writerFeatures = Seq("deletionVectors")),
      DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(a), DeltaFixture.addJson(b)))
    val t = TxTable(spark, dir)
    assert(t.followDelta() == 0L)
    val total = t.read().count()
    def positions(file: String, pred: org.apache.spark.sql.Column): Seq[Long] =
      spark.read.parquet(s"$dir/$file")
        .select(col("_metadata.row_index")).where(pred)
        .collect().map(_.getLong(0)).toSeq.sorted
    // window 1: ONE commit DV-deletes rows in BOTH files → the window
    // translates both vectors into ONE shared native sidecar
    val aPos1 = positions("part-ra.parquet", col("o_orderkey") % 4 === 0)
    val bPos1 = positions("part-rb.parquet", col("o_orderkey") % 4 === 1)
    assert(aPos1.size >= 2 && bPos1.nonEmpty, "fixture needs DV'd rows")
    DeltaFixture.commit(spark, dir, 1, Seq(
      DeltaFixture.removeJson(a.relPath),
      DeltaFixture.addJson(a,
        deletionVector = Some(DeltaFixture.writeDv(spark, dir, aPos1))),
      DeltaFixture.removeJson(b.relPath),
      DeltaFixture.addJson(b,
        deletionVector = Some(DeltaFixture.writeDv(spark, dir, bPos1)))))
    assert(t.followDelta() == 1L)
    assert(t.read().count() == total - aPos1.size - bPos1.size)
    // window 2: upstream RESTORE re-adds A with a SMALLER vector (a
    // strict subset of window 1's positions); B keeps pinning the
    // window-1 sidecar, which still holds A's OLD positions
    val aPos2 = aPos1.take(aPos1.size / 2)
    DeltaFixture.commit(spark, dir, 2, Seq(
      DeltaFixture.removeJson(a.relPath),
      DeltaFixture.addJson(a,
        deletionVector = Some(DeltaFixture.writeDv(spark, dir, aPos2)))))
    assert(t.followDelta() == 2L)
    val got = t.read()
    assert(got.count() == total - aPos2.size - bPos1.size,
      "restored rows must resurface; B's deletions must persist")
    // the exact restored keys are visible again
    val restored = spark.read.parquet(s"$dir/part-ra.parquet")
      .withColumn("__ri", col("_metadata.row_index"))
      .where(col("__ri").isin(aPos1.drop(aPos1.size / 2): _*))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(restored.nonEmpty)
    val visible = got.where(col("o_orderkey")
      .isin(restored.toSeq: _*)).count()
    assert(visible == restored.size.toLong,
      s"all ${restored.size} restored rows visible, got $visible")
    // and the driver-side DV surface agrees (the V2 scan path)
    val dvMap = t.dvPositions(t.versions.max)
    val aKey = dvMap.keys.find(_.endsWith("part-ra.parquet"))
    assert(aKey.isDefined && dvMap(aKey.get).toSeq == aPos2,
      s"A must carry ONLY the replacement vector, got ${dvMap.toSeq}")
  }

  test("racing mirrors: concurrent mirrorToDelta calls resolve to one " +
      "winner per Delta version through the LogStore claim; a loser " +
      "raises the named race error; the log stays contiguous and " +
      "read-equal") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = scratch("mirror_race")
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 2 === 0))
    assert(t.mirrorToDelta() == 0L)
    for (i <- 1 to 6) t.append(orders.where(col("o_orderkey") % 97 === i))
    // two threads race the 6-commit backlog; interleavings vary, the
    // invariants must not
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map(_ => new Thread(() =>
      try { t.mirrorToDelta(); () }
      catch { case e: Throwable => errs.add(e); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    // any loser raised the NAMED race error — never silent corruption
    errs.forEach(e => assert(
      e.getMessage.contains("concurrent mirror writer") ||
        e.getMessage.contains("racing"), e.toString))
    // exactly one Delta commit per version, contiguous, no gaps and no
    // stray staging files
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(d, "_delta_log"))
      .toSeq.map(_.getPath.getName)
    assert(names.filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted == (0L to 6L),
      names.sorted)
    assert(!names.exists(_.startsWith(".tmp-mirror-")), names.sorted)
    // the mirror reads exactly the table, and the verb is idempotent
    val back = DeltaLog.read(spark, d)
    assert(back.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(back).isEmpty)
    assert(t.mirrorToDelta() == 6L)
  }

  test("mirror checkpointing: every 10th mirrored commit writes a " +
      "parquet checkpoint + _last_checkpoint; retention cleans " +
      "pre-checkpoint JSON; reads and further mirroring survive the " +
      "cleaned log") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = scratch("mirror_ckpt")
    def logFiles(suffix: String): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(d, "_delta_log")).toSeq
        .map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\." + suffix))
        .map(_.split("\\.")(0).toLong).sorted
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 4 === 0))     // g0
    // retention 0: pre-checkpoint commits clean as soon as a
    // checkpoint supersedes them (the delta.logRetentionDuration dial)
    t.setProperties(Map(TxTable.PropMirrorLogRetention -> "0")) // g1
    assert(t.mirrorToDelta() == 0L) // bootstrap anchors at g1
    for (i <- 1 to 24) {            // g2..g25 → Delta v1..v24
      t.append(orders.where(col("o_orderkey") % 97 === i))
      t.mirrorToDelta()
    }
    // checkpoints landed on the interval; the v10 one was itself
    // superseded and cleaned by the v20 one; JSON commits below the
    // newest checkpoint are gone, the tail (v20..v24) survives
    assert(logFiles("checkpoint\\.parquet") == Seq(20L))
    assert(logFiles("json") == (20L to 24L), logFiles("json"))
    val lastCp = new org.apache.hadoop.fs.Path(d, "_delta_log/_last_checkpoint")
    assert(fs.exists(lastCp))
    val cpNode = {
      val in = fs.open(lastCp)
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    }
    assert(cpNode.get("version").asLong() == 20L)
    // the engine's own Delta reader consumes its checkpointed mirror:
    // base state from the parquet checkpoint, ≤ interval JSON commits
    // (only 21..24 remain above it) replayed on top
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.version == 24L)
    val viaDelta = DeltaLog.read(spark, d)
    assert(viaDelta.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(viaDelta).isEmpty)
    // further mirroring survives the cleaned log: the stable tableId
    // now lives only in the checkpoint (every metaData-bearing JSON
    // commit was cleaned), and the anchor rides the newest commit
    t.append(orders.where(col("o_orderkey") % 97 === 25))
    assert(t.mirrorToDelta() == 25L)
    val after = DeltaLog.read(spark, d)
    assert(after.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(after).isEmpty)
    // no staging litter: a crash-free mirror leaves zero tmp files
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(d, "_delta_log"))
      .forall(!_.getPath.getName.startsWith(".tmp-mirror-")))
  }

  test("followDelta: ONE window mixing append, delete, widening and a " +
      "DV re-add composes to the net head state in a single commit") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val dir = scratch("follow_mixed")
    val a = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 0), dir, "part-a.parquet")
    val b = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 1), dir, "part-b.parquet")
    DeltaFixture.commit(spark, dir, 0, Seq(
      DeltaFixture.protocolJson(), DeltaFixture.metaDataJson(orders.schema),
      DeltaFixture.addJson(a), DeltaFixture.addJson(b)))
    val t = TxTable(spark, dir)
    assert(t.followDelta() == 0L)
    // the backlog: four commits of four different shapes, followed in
    // ONE call — the net-state fold must compose them
    val c = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 3 === 2), dir, "part-c.parquet")
    DeltaFixture.commit(spark, dir, 1, Seq(DeltaFixture.addJson(c)))
    DeltaFixture.commit(spark, dir, 2, Seq(DeltaFixture.removeJson(a.relPath)))
    val widened = StructType(orders.schema.fields :+
      StructField("o_note", StringType, nullable = true))
    val dd = DeltaFixture.writeData(spark,
      orders.where(col("o_orderkey") % 6 === 0)
        .withColumn("o_note", concat(lit("n"), col("o_orderkey"))),
      dir, "part-d.parquet")
    DeltaFixture.commit(spark, dir, 3, Seq(
      DeltaFixture.metaDataJson(widened), DeltaFixture.addJson(dd)))
    val cPos = spark.read.parquet(s"$dir/part-c.parquet")
      .select(col("_metadata.row_index"), col("o_orderkey"))
      .where(col("o_orderkey") % 9 === 2)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(cPos.nonEmpty)
    DeltaFixture.commit(spark, dir, 4, Seq(
      DeltaFixture.removeJson(c.relPath),
      DeltaFixture.addJson(c, deletionVector =
        Some(DeltaFixture.writeDv(spark, dir, cPos)))))
    val vBefore = t.versions.size
    assert(t.followDelta() == 1L)
    assert(t.versions.size == vBefore + 1, "one window = one commit")
    assert(t.lastTxn(TxTable.FollowTxnId).contains(4L))
    val got = t.read()
    assert(got.schema.fieldNames.contains("o_note"))
    val want = orders.where(col("o_orderkey") % 3 === 1)
      .unionByName(orders.where(col("o_orderkey") % 6 === 0))
      .unionByName(orders.where(col("o_orderkey") % 3 === 2 &&
        col("o_orderkey") % 9 =!= 2))
    val got3 = got.select("o_orderkey", "o_totalprice", "o_orderpriority")
    assert(got3.exceptAll(want).isEmpty && want.exceptAll(got3).isEmpty)
    // the note column exists exactly on the post-widening file's rows
    assert(got.where(col("o_note").isNotNull).count() ==
      orders.where(col("o_orderkey") % 6 === 0).count())
  }

  test("mirror v2 checkpoints (opt-in property): UUID manifest + " +
      "_sidecars file, no classic checkpoint; the engine's own v2 " +
      "reader consumes its own mirror; tombstones carried; retention " +
      "cleans superseded manifests AND their sidecars") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = scratch("mirror_v2cp")
    def logNames: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(d, "_delta_log")).toSeq
        .map(_.getPath.getName).sorted
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 4 === 0))       // g0 → v0
    t.setProperties(Map(
      TxTable.PropMirrorCheckpointFormat -> "v2",
      TxTable.PropMirrorLogRetention -> "0"))                    // g1
    assert(t.mirrorToDelta() == 0L) // bootstrap anchors at g1
    for (i <- 1 to 9) {                                          // v1..v9
      t.append(orders.where(col("o_orderkey") % 97 === i))
      t.mirrorToDelta()
    }
    // v10 is an overwrite: the v2 checkpoint must carry its tombstones
    t.overwrite(orders.where(col("o_orderkey") % 4 === 1))
    assert(t.mirrorToDelta() == 10L)
    val v2Mf = """0*10\.checkpoint\.[A-Za-z0-9-]+\.parquet""".r
    assert(logNames.exists(n => v2Mf.pattern.matcher(n).matches), logNames)
    assert(!logNames.contains("00000000000000000010.checkpoint.parquet"),
      "v2 mode must not also write a classic checkpoint")
    val scDir = new org.apache.hadoop.fs.Path(d, "_delta_log/_sidecars")
    assert(fs.exists(scDir) && fs.listStatus(scDir).nonEmpty)
    val sidecar = fs.listStatus(scDir).map(_.getPath.toString).sorted.head
    val scDf = spark.read.parquet(sidecar)
    assert(scDf.where(col("add.path").isNotNull).count() > 0)
    assert(scDf.where(col("remove.path").isNotNull).count() > 0,
      "overwrite tombstones must land in the v2 sidecar")
    // the engine's own v2 reader consumes its own v2-checkpointed
    // mirror: base state from manifest+sidecar, tail JSON on top
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.version == 10L)
    val got = DeltaLog.read(spark, d)
    assert(got.exceptAll(t.read()).isEmpty && t.read().exceptAll(got).isEmpty)
    // ten more commits → the v20 checkpoint supersedes v10: retention
    // 0 cleans the old manifest AND its version-prefixed sidecar
    for (i <- 11 to 20) {
      t.append(orders.where(col("o_orderkey") % 97 === i))
      t.mirrorToDelta()
    }
    assert(t.mirrorToDelta() == 20L)
    val mf10 = """0*10\.checkpoint\..*""".r
    assert(!logNames.exists(n => mf10.pattern.matcher(n).matches),
      s"superseded v2 manifest must clean: $logNames")
    assert(!fs.listStatus(scDir).map(_.getPath.getName)
      .exists(_.startsWith("00000000000000000010-")),
      "superseded sidecar must clean")
    val after = DeltaLog.read(spark, d)
    assert(after.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(after).isEmpty)
    // tombstones survive the v2 carry-forward path (prev checkpoint =
    // v2 manifest+sidecar): the v20 sidecar still holds v10's
    // unexpired removes
    val sc20 = fs.listStatus(scDir).map(_.getPath.getName)
      .filter(_.startsWith("00000000000000000020-"))
    assert(sc20.nonEmpty)
    val sc20Df = spark.read.parquet(
      new org.apache.hadoop.fs.Path(scDir, sc20.head).toString)
    assert(sc20Df.where(col("remove.path").isNotNull).count() > 0,
      "v2 carry-forward must keep unexpired tombstones")
    // the v2 layout is ADVERTISED in the protocol (reader 3 +
    // v2Checkpoint): a spec-compliant classic-only reader must learn
    // from the protocol that it cannot read this table, instead of
    // finding no NNN.checkpoint.parquet after the pre-checkpoint JSON
    // commits were cleaned. Retention already cleaned commit 0 here,
    // so the surviving advertisement is the checkpointed protocol row
    val mf20 = logNames.filter(n =>
      """0*20\.checkpoint\.[A-Za-z0-9-]+\.parquet""".r
        .pattern.matcher(n).matches)
    assert(mf20.nonEmpty, logNames)
    val protoRow = spark.read.parquet(
      new org.apache.hadoop.fs.Path(d, s"_delta_log/${mf20.head}").toString)
      .where(col("protocol").isNotNull)
      .select(col("protocol.minReaderVersion"),
        col("protocol.readerFeatures")).collect()
    assert(protoRow.length == 1)
    assert(protoRow(0).getInt(0) == 3 &&
      protoRow(0).getSeq[String](1).contains("v2Checkpoint"),
      s"checkpointed protocol must advertise v2Checkpoint: " +
        s"${protoRow.toSeq}")
  }

  test("a mirror checkpoint that fails to land neither moves " +
      "_last_checkpoint nor lets retention clean the commits it would " +
      "have replaced") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = scratch("mirror_cpfail")
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 4 === 0))       // g0
    t.setProperties(Map(
      TxTable.PropMirrorCheckpointFormat -> "v2",
      TxTable.PropMirrorLogRetention -> "0"))                    // g1
    assert(t.mirrorToDelta() == 0L)
    // a plain file where the sidecar directory belongs: the v2
    // checkpoint at Delta v10 cannot write its sidecar
    val out = fs.create(new org.apache.hadoop.fs.Path(d, "_delta_log/_sidecars"))
    out.close()
    for (i <- 1 to 10) {                                         // v1..v10
      t.append(orders.where(col("o_orderkey") % 97 === i))
      t.mirrorToDelta()
    }
    assert(t.mirrorToDelta() == 10L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(d, "_delta_log/_last_checkpoint")))
    val snap = DeltaLog.snapshot(spark, d)
    assert(snap.version == 10L)
    val got = DeltaLog.read(spark, d)
    assert(got.exceptAll(t.read()).isEmpty && t.read().exceptAll(got).isEmpty)
  }

  test("late v2-checkpoint opt-in on a live classic mirror: the NEXT " +
      "mirrored commit upgrades the protocol before any v2 manifest " +
      "exists, so external readers are never ambushed") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = scratch("mirror_v2late")
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 4 === 0))
    t.exportToDelta()
    t.append(orders.where(col("o_orderkey") % 4 === 1))
    assert(t.mirrorToDelta() == 1L)
    // classic so far: protocol v0 is (1,2), no upgrade emitted
    val log1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(d, "_delta_log",
        f"${1L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(!log1.contains("minReaderVersion"), log1)
    // opt in mid-life: the property commit mirrors WITH the upgrade
    t.setProperties(Map(TxTable.PropMirrorCheckpointFormat -> "v2"))
    assert(t.mirrorToDelta() == 2L)
    val log2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(d, "_delta_log",
        f"${2L}%020d.json")), java.nio.charset.StandardCharsets.UTF_8)
    assert(log2.contains("\"minReaderVersion\":3") &&
      log2.contains("v2Checkpoint"), log2)
    // and the engine's own reader still consumes the upgraded mirror
    val back = DeltaLog.read(spark, d)
    assert(back.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(back).isEmpty)
  }

  test("mirror checkpoint carries unexpired remove tombstones " +
      "(Delta deletedFileRetentionDuration semantics); never for live " +
      "files; expired ones drop; reader state unaffected") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = scratch("mirror_tomb")
    val t = TxTable(spark, d)
    t.overwrite(orders.where(col("o_orderkey") % 4 === 0))      // g0 → v0
    assert(t.mirrorToDelta() == 0L)
    for (i <- 1 to 9) {                                          // v1..v9
      t.append(orders.where(col("o_orderkey") % 97 === i))
      t.mirrorToDelta()
    }
    // v10 is an OVERWRITE: every prior data file turns into a remove
    // action in the very commit the checkpoint lands on — a
    // spec-strict reader's VACUUM must see those tombstones in the
    // checkpoint even after log cleaning deletes the JSON commits
    t.overwrite(orders.where(col("o_orderkey") % 4 === 1))
    assert(t.mirrorToDelta() == 10L)
    val cp10 = spark.read.parquet(
      s"$d/_delta_log/00000000000000000010.checkpoint.parquet")
    assert(cp10.columns.contains("remove"))
    val removes = cp10.where(col("remove.path").isNotNull)
      .select("remove.path", "remove.deletionTimestamp")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(removes.nonEmpty, "overwrite tombstones must be carried")
    assert(removes.forall(_._2 > 0L))
    val adds = cp10.where(col("add.path").isNotNull)
      .select("add.path").collect().map(_.getString(0)).toSet
    assert(removes.map(_._1).toSet.intersect(adds).isEmpty,
      "a tombstone for a live file would let VACUUM delete data")
    // _last_checkpoint's action count includes the tombstones
    val lastCp = {
      val in = fs.open(
        new org.apache.hadoop.fs.Path(d, "_delta_log/_last_checkpoint"))
      val s = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    }
    assert(lastCp.get("size").asLong == 2L + adds.size + removes.length)
    // tombstones are vacuum metadata, not state: the reader's rows
    // match the table exactly
    val viaDelta = DeltaLog.read(spark, d)
    assert(viaDelta.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(viaDelta).isEmpty)
    // retention 0 = everything already expired: the NEXT checkpoint
    // carries no tombstones (neither v10's carried ones nor the new
    // overwrite's), proving both expiry paths
    t.setProperties(
      Map(TxTable.PropMirrorTombstoneRetention -> "0"))          // v11
    t.overwrite(orders.where(col("o_orderkey") % 4 === 2))       // v12
    for (i <- 13 to 20) {                                        // v13..v20
      t.append(orders.where(col("o_orderkey") % 97 === i))
      t.mirrorToDelta()
    }
    assert(t.mirrorToDelta() == 20L)
    val cp20 = spark.read.parquet(
      s"$d/_delta_log/00000000000000000020.checkpoint.parquet")
    assert(cp20.where(col("remove.path").isNotNull).count() == 0L)
    val after = DeltaLog.read(spark, d)
    assert(after.exceptAll(t.read()).isEmpty &&
      t.read().exceptAll(after).isEmpty)
  }
}
