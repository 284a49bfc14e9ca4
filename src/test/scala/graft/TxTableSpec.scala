package graft

import org.apache.spark.sql.functions._
import graft.core.TxTable
import graft.streaming.EventsStream

/** TxTable: commit-log transactions on plain parquet — snapshot
  * isolation, time travel, optimistic concurrency, crash-mid-commit
  * invisibility, schema evolution, vacuum + snapshot expiry,
  * compaction-as-commit. */
class TxTableSpec extends SparkSpec {

  private def freshTable(name: String): (TxTable, String) = {
    val dir = EventsStream.scratchDir(name) + "/t"
    (TxTable(spark, dir), dir)
  }

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"name_$i", i * 10.0)).toDF("id", "name", "score")
  }

  /** The schema DDL version `v`'s log entry records. */
  private def schemaDdlAt(t: TxTable, v: Long): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(f"${t.location}/_graft_log/$v%020d.json"))
      .get("schema_ddl").asText()

  /** A rewrite verb changed neither the rows nor the schema: the
    * snapshots `v0` and `v1` read row-identical (multiset, both
    * directions) and record the same schema DDL. */
  private def assertSameContents(t: TxTable, v0: Long, v1: Long): Unit = {
    val (a, b) = (t.readVersion(v0), t.readVersion(v1))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"versions $v0 and $v1 read different rows")
    assert(schemaDdlAt(t, v1) == schemaDdlAt(t, v0),
      s"the rewrite at $v1 changed the schema")
  }

  test("overwrite + time travel: every committed snapshot stays readable") {
    val (t, _) = freshTable("tx_tt")
    val v0 = t.overwrite(df(0 until 10))
    val v1 = t.overwrite(df(100 until 105))
    assert(v0 == 0 && v1 == 1)
    assert(t.read().count() == 5)
    assert(t.readVersion(0).count() == 10)
    assert(t.readVersion(0).agg(sum("id")).head.getLong(0) == 45)
    assert(t.versions == Seq(0L, 1L))
  }

  test("append accumulates; reads are snapshot-isolated across a commit") {
    val (t, _) = freshTable("tx_iso")
    t.overwrite(df(0 until 10))
    t.append(df(10 until 15))
    val pinned = t.read() // resolves version 1's file list NOW
    assert(pinned.count() == 15)
    t.overwrite(df(500 until 501))
    // the pinned frame re-evaluates against its pinned files, not the
    // new snapshot: immutable data files + manifest-pinned reads
    assert(pinned.count() == 15)
    assert(pinned.agg(max("id")).head.getLong(0) == 14)
    assert(t.read().count() == 1)
  }

  test("crash mid-commit is invisible: data files + tmp manifest, no version") {
    val (t, dir) = freshTable("tx_crash")
    t.overwrite(df(0 until 10))
    // simulate a writer that crashed after landing data files and the
    // tmp manifest but BEFORE the rename that makes the commit live
    df(900 until 950).write.parquet(s"$dir/data/w-crashed")
    val tmp = new java.io.File(s"$dir/_graft_log/.tmp-crashed.json")
    java.nio.file.Files.write(tmp.toPath, "{\"version\":99".getBytes) // torn JSON
    assert(t.versions == Seq(0L), "crashed write must not surface a version")
    assert(t.read().count() == 10, "reader sees only the committed snapshot")
    // recovery IS vacuum: the orphan files and the tmp manifest die,
    // committed files survive
    val deleted = t.vacuum(minAgeMs = 0)
    assert(deleted.exists(_.contains("w-crashed")))
    assert(deleted.exists(_.contains(".tmp-crashed")))
    assert(t.read().count() == 10)
    val next = t.append(df(10 until 12)) // table still writable
    assert(next == 1 && t.read().count() == 12)
  }

  test("optimistic concurrency: losing the race retries onto the next version") {
    val (t, dir) = freshTable("tx_race")
    t.overwrite(df(0 until 5))
    // a second writer claims version 1 out from under this handle
    val other = TxTable(spark, dir)
    other.append(df(5 until 8))
    // this append composes against whatever is latest AT COMMIT time:
    // it must land at version 2 with the racer's rows in its lineage
    val v = t.append(df(8 until 10))
    assert(v == 2)
    assert(t.read().count() == 10)
    assert(t.read().agg(countDistinct("id")).head.getLong(0) == 10)
  }

  test("schema evolution: new column widens, old files null-backfill, pushdown survives") {
    import spark.implicits._
    val (t, _) = freshTable("tx_evolve")
    t.overwrite(df(0 until 10)) // id, name, score
    val wide = (10 until 20).map(i => (i.toLong, s"name_$i", i * 10.0, s"en"))
      .toDF("id", "name", "score", "lang")
    t.append(wide)
    val r = t.read()
    assert(r.schema.fieldNames.toSeq == Seq("id", "name", "score", "lang"))
    assert(r.count() == 20)
    assert(r.where(col("lang").isNull).count() == 10) // v1 files backfilled
    assert(r.where(col("lang") === "en").count() == 10)
    // pushdown/pruning must survive the explicit union schema
    val plan = r.where(col("id") > 15).select("id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,15)]"),
      s"filter not pushed to parquet:\n$plan")
    // retyping an existing column must refuse, not coerce
    val bad = (0 until 3).map(i => (s"$i", s"x", 0.0)).toDF("id", "name", "score")
    intercept[IllegalArgumentException](t.append(bad))
  }

  test("appending a SUBSET of columns null-backfills the new files") {
    import spark.implicits._
    val (t, _) = freshTable("tx_subset")
    t.overwrite(df(0 until 5))
    t.append((5 until 8).map(i => (i.toLong, s"name_$i")).toDF("id", "name"))
    val r = t.read()
    assert(r.count() == 8)
    assert(r.where(col("score").isNull).count() == 3)
  }

  test("compactSmall bin-packs only the small files; compact files carry byte-identically") {
    val (t, dir) = freshTable("tx_csmall")
    t.overwrite(df(0 until 2000))          // one ~compact file
    t.compact(targetFileBytes = 16 * 1024) // normalize into ≥1 sized file(s)
    val vBase = t.latestVersion.get
    val bigFiles = t.readVersion(vBase).inputFiles.toSet
    assertSameContents(t, vBase - 1, vBase)
    // small-file debt: 6 tiny appends
    (0 until 6).foreach(i => t.append(df(5000 + i until 5001 + i)))
    val vOpt = t.compactSmall(targetFileBytes = 16 * 1024)
    assert(vOpt > vBase + 5)
    assertSameContents(t, vOpt - 1, vOpt)
    val after = t.read()
    assert(after.count() == 2006)
    // the compact files carried by reference — same paths serve reads
    assert(bigFiles.subsetOf(after.inputFiles.toSet),
      "already-compact files must carry into the optimized snapshot untouched")
    // the 6 tiny files collapsed into one output
    assert(after.inputFiles.length == bigFiles.size + 1,
      s"expected ${bigFiles.size}+1 files, got ${after.inputFiles.length}")
    // change feed skips it (dataChange=false), the appends still serve
    assert(t.history().last._2 == "compact")
    // a second pass finds < minFiles small files → no new commit
    assert(t.compactSmall(targetFileBytes = 16 * 1024) == vOpt)
  }

  test("OPTIMIZE WHERE: only the scoped partition compacts; the rest carries byte-identically") {
    import spark.implicits._
    val (t, _) = freshTable("tx_copt_where")
    def part(ids: Range, p: String) =
      ids.map(i => (i.toLong, p, i * 1.0)).toDF("id", "grp", "v")
    t.overwrite(part(0 until 50, "a"), partitionBy = Seq("grp"))
    // small-file debt in BOTH partitions
    (0 until 4).foreach { i =>
      t.append(part(100 + i until 101 + i, "a"))
      t.append(part(200 + i until 201 + i, "b"))
    }
    val nBefore = t.read().count()
    def parts(v: Long) = t.fileEntries(v)
      .groupBy(_.partition.getOrElse("grp", "?"))
      .view.mapValues(_.map(_.path).toSet).toMap
    val before = parts(t.latestVersion.get)
    val v = t.compactSmall(targetFileBytes = 16 * 1024,
      partitionEq = Map("grp" -> "a"))
    assertSameContents(t, v - 1, v)
    val after = parts(v)
    assert(t.read().count() == nBefore)
    // b untouched — the SAME manifest entries carry by reference
    assert(after("b") == before("b"),
      "out-of-scope partition must carry by reference")
    // a's debt collapsed into one output
    assert(after("a") != before("a"))
    assert(after("a").size == 1, s"expected 1 packed a-file, ${after("a")}")
    assert(t.history().last._2 == "compact" && t.latestVersion.get == v)
    // non-partition predicate refuses loudly
    val e = intercept[RuntimeException](
      t.compactSmall(partitionEq = Map("v" -> "1.0")))
    assert(e.getMessage.contains("partition"))
  }

  test("SQL OPTIMIZE WHERE routes the partition scope") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_copt_where_sql")
    def part(ids: Range, p: String) =
      ids.map(i => (i.toLong, p, i * 1.0)).toDF("id", "grp", "v")
    t.overwrite(part(0 until 20, "a"), partitionBy = Seq("grp"))
    (0 until 3).foreach { i =>
      t.append(part(100 + i until 101 + i, "a"))
      t.append(part(200 + i until 201 + i, "b"))
    }
    def parts(v: Long) = t.fileEntries(v)
      .groupBy(_.partition.getOrElse("grp", "?"))
      .view.mapValues(_.map(_.path).toSet).toMap
    val before = parts(t.latestVersion.get)
    spark.sql(s"OPTIMIZE txtable.`$dir` WHERE grp = 'a'").collect()
    val after = parts(t.latestVersion.get)
    assert(after("b") == before("b"))
    assert(after("a").size == 1)
    assert(t.read().count() == 26)
  }

  test("OPTIMIZE WHERE is quote-aware; RESTORE accepts date-only literals") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_opt_quote")
    def part(ids: Range, p: String) =
      ids.map(i => (i.toLong, p, i * 1.0)).toDF("id", "grp", "v")
    // a partition VALUE containing ' and ' — the regex split trap
    t.overwrite(part(0 until 10, "x and y"), partitionBy = Seq("grp"))
    t.append(part(10 until 12, "x and y"))
    t.append(part(20 until 22, "z"))
    spark.sql(s"OPTIMIZE txtable.`$dir` WHERE grp = 'x and y'").collect()
    val byPart = t.fileEntries(t.latestVersion.get)
      .groupBy(_.partition.getOrElse("grp", "?"))
    assert(byPart("x and y").size == 1, "scoped partition must compact")
    assert(t.read().count() == 14)
    // RESTORE ... TIMESTAMP AS OF with a date-only literal (session-TZ
    // cast path): tomorrow's date resolves to the latest snapshot
    val tomorrow = java.time.LocalDate.now().plusDays(1).toString
    spark.sql(
      s"RESTORE TABLE txtable.`$dir` TO TIMESTAMP AS OF '$tomorrow'")
    assert(t.read().count() == 14)
  }

  test("bare OPTIMIZE of an empty z-ordered table is a no-op") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_zorder_empty")
    t.overwrite(Seq.empty[(Long, Long, Double)].toDF("x", "y", "v"))
    t.setProperties(Map(graft.core.TxTable.PropZOrderColumns -> "x,y"))
    val v = t.latestVersion.get
    spark.sql(s"OPTIMIZE txtable.`$dir`").collect() // must not throw
    assert(t.read().count() == 0)
    assert(t.latestVersion.get == v, "empty-table OPTIMIZE must not commit")
  }

  test("compactSmall purges deletion vectors of the files it rewrites") {
    val (t, _) = freshTable("tx_csmall_dv")
    val dv = graft.core.TxTable(spark, t.location, deletionVectors = true)
    dv.overwrite(df(0 until 100))
    dv.append(df(100 until 110))
    dv.deleteWhere(col("id") < 5L) // vectors the first file
    assert(dv.read().count() == 105)
    val v = dv.compactSmall(targetFileBytes = 16 * 1024)
    assert(dv.read().count() == 105)
    // no entry carries a vector anymore: rewrite purged them
    assert(!dv.snapshotHasDv(v), "compactSmall must purge rewritten files' DVs")
  }

  test("compact rewrites as a new snapshot; history intact until expiry+vacuum") {
    val (t, dir) = freshTable("tx_compact")
    t.overwrite(df(0 until 1000).repartition(16)) // 16 small files
    t.append(df(1000 until 1100).repartition(8))
    val vCompact = t.compact()
    assert(t.read().count() == 1100)
    assertSameContents(t, vCompact - 1, vCompact)
    // compacted snapshot has fewer, larger files
    val dataFiles = (v: Long) => t.readVersion(v).inputFiles.length
    assert(dataFiles(vCompact) < dataFiles(vCompact - 1))
    // pre-compact version still time-travels
    assert(t.readVersion(vCompact - 1).count() == 1100)
    // expire everything but the compacted snapshot, vacuum the rest
    val expired = t.expireSnapshots(keepLast = 1)
    assert(expired == Seq(0L, 1L))
    val deleted = t.vacuum(minAgeMs = 0)
    assert(deleted.nonEmpty, "expired snapshots' files must be reclaimed")
    assert(t.read().count() == 1100, "live snapshot untouched by vacuum")
    intercept[IllegalArgumentException](t.readVersion(0))
  }

  test("8 threads appending concurrently: all commits land, no rows lost") {
    val (t, dir) = freshTable("tx_threads")
    t.overwrite(df(0 until 1))
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        // every thread its own handle, like independent writers
        TxTable(spark, dir).append(df(100 * (i + 1) until 100 * (i + 1) + 10))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.versions == (0L to 8L), s"lost commits: ${t.versions}")
    // every writer's rows present exactly once in the final snapshot
    assert(t.read().count() == 1 + 8 * 10)
    assert(t.read().agg(countDistinct("id")).head.getLong(0) == 81)
    val h = t.history()
    assert(h.count(_._2 == "append") == 8)
  }

  test("history lists every commit with operation and file count") {
    val (t, _) = freshTable("tx_hist")
    t.overwrite(df(0 until 10).repartition(2))
    t.append(df(10 until 12).repartition(1))
    t.compact()
    val h = t.history()
    assert(h.map(x => (x._1, x._2)) ==
      Seq((0L, "overwrite"), (1L, "append"), (2L, "compact")))
    assert(h(1)._3 == h(0)._3 + 1) // append adds its files to v0's
  }

  test("partitioned table: manifest records partition values; readWhere prunes the file list") {
    import spark.implicits._
    val (t, _) = freshTable("tx_part")
    val rows = (0 until 100).map(i =>
      (i.toLong, if (i % 3 == 0) "click" else if (i % 3 == 1) "view" else "purchase",
        i * 1.0))
      .toDF("id", "event_type", "value")
    t.overwrite(rows, partitionBy = Seq("event_type"))
    // every manifest entry carries its partition value
    val entries = t.fileEntries(0)
    assert(entries.nonEmpty &&
      entries.forall(_.partition.keySet == Set("event_type")))
    assert(entries.map(_.partition("event_type")).toSet ==
      Set("click", "view", "purchase"))
    // full read returns the original data (partition col is real data)
    assert(t.read().count() == 100)
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "event_type", "value"))
    // pruned read scans ONLY the matching partitions' files
    val pruned = t.readWhere(p => p("event_type") == "click")
    assert(pruned.count() == 34)
    val clickFiles = entries.filter(_.partition("event_type") == "click")
      .map(_.path).toSet
    val scanned = pruned.inputFiles.map(f =>
      f.substring(f.indexOf("data/"))).toSet
    assert(scanned == clickFiles,
      s"pruned scan read outside the partition: $scanned vs $clickFiles")
    // appends keep the layout
    t.append(Seq((1000L, "click", 5.0)).toDF("id", "event_type", "value"))
    assert(t.readWhere(p => p("event_type") == "click").count() == 35)
  }

  test("merge rewrites only touched buckets; untouched files byte-identical") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_merge")
    val base = (0 until 1000).map(i => (i.toLong, s"v$i", i * 1.0))
      .toDF("id", "name", "score")
    t.overwriteBucketed(base, bucketCols = Seq("id"), nBuckets = 16)
    val before = t.fileEntries(0).map(_.path)
    val sizesBefore = before.map(p =>
      p -> new java.io.File(s"$dir/$p").length()).toMap
    val mtimesBefore = before.map(p =>
      p -> new java.io.File(s"$dir/$p").lastModified()).toMap
    // upsert 10 keys (subset of buckets) + 5 new keys
    val src = ((0 until 10).map(i => (i * 7L, "UPDATED", -1.0)) ++
      (0 until 5).map(i => (2000L + i, "NEW", 99.0)))
      .toDF("id", "name", "score")
    val v1 = t.upsert(src)
    assert(v1 == 1)
    val after = t.fileEntries(1).map(_.path)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.nonEmpty, "merge must carry untouched files by reference")
    assert(after.toSet != before.toSet, "merge must rewrite touched buckets")
    // carried files untouched on disk: same bytes, same mtime
    carried.foreach { p =>
      val f = new java.io.File(s"$dir/$p")
      assert(f.length() == sizesBefore(p) && f.lastModified() == mtimesBefore(p),
        s"untouched file $p was rewritten")
    }
    // semantics: replace-by-key upsert
    val r = t.read()
    assert(r.count() == 1005)
    assert(r.where(col("name") === "UPDATED").count() == 10)
    assert(r.where(col("name") === "NEW").count() == 5)
    assert(r.where(col("id") === 7L).select("name").head.getString(0) == "UPDATED")
    assert(r.where(col("id") === 8L).select("name").head.getString(0) == "v8")
    assert(r.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // time travel across the merge still works
    assert(t.readVersion(0).where(col("name") === "UPDATED").count() == 0)
  }

  test("merge-on-read upsert (deletionVectors handle): base files kept byte-identical, vectors account, replay accumulates") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_mor_upsert") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    val base = (0 until 1000).map(i => (i.toLong, s"v$i", i * 1.0))
      .toDF("id", "name", "score")
    t.overwriteBucketed(base, bucketCols = Seq("id"), nBuckets = 8)
    val before = t.fileEntries(0).map(_.path)
    val sizesBefore = before.map(p =>
      p -> new java.io.File(s"$dir/$p").length()).toMap
    val src = ((0 until 10).map(i => (i * 7L, "UPDATED", -1.0)) ++
      (0 until 5).map(i => (2000L + i, "NEW", 99.0)))
      .toDF("id", "name", "score")
    val v1 = t.upsert(src)
    assert(v1 == 1)
    // merge-on-read: EVERY base data file survives byte-identical —
    // matched rows hide behind deletion vectors, the source appended
    val after = t.fileEntries(1)
    assert(before.toSet.subsetOf(after.map(_.path).toSet),
      "MoR upsert must never rewrite base data files")
    before.foreach { p =>
      assert(new java.io.File(s"$dir/$p").length() == sizesBefore(p),
        s"base file $p changed size")
    }
    assert(after.map(_.dvRows).sum == 10,
      s"10 matched rows must be vectored, got ${after.map(_.dvRows).sum}")
    // semantics identical to the copy-on-write upsert
    val r = t.read()
    assert(r.count() == 1005)
    assert(r.where(col("id") === 7L).select("name").head.getString(0) == "UPDATED")
    assert(r.where(col("id") === 8L).select("name").head.getString(0) == "v8")
    assert(r.where(col("name") === "NEW").count() == 5)
    assert(t.readVersion(0).count() == 1000) // time travel below the DV
    // second upsert over the SAME keys: the replacements from round 1
    // (new files) now vector too — accumulation, not duplication
    val v2 = t.upsert((0 until 10).map(i => (i * 7L, "AGAIN", -2.0))
      .toDF("id", "name", "score"))
    assert(v2 == 2)
    val r2 = t.read()
    assert(r2.count() == 1005)
    assert(r2.where(col("name") === "AGAIN").count() == 10)
    assert(r2.where(col("name") === "UPDATED").count() == 0)
    // a non-DV handle on the same table keeps copy-on-write semantics
    // via the table's effective flag resolution (handle flag only —
    // no property set here), so both reads agree
    assert(TxTable(spark, dir).read().count() == 1005)
  }

  test("merge-on-read upsert with CDF: update_preimage/postimage + insert captured") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_mor_upsert_cdf") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true, changeDataFeed = true)
    t.overwriteBucketed((0 until 100).map(i => (i.toLong, i * 10))
      .toDF("k", "v"), Seq("k"), 4)
    t.upsert(Seq((7L, -1), (3000L, 1)).toDF("k", "v"))
    val ch = t.changeFeed(0).select(col("k"), col("v"),
      col(TxTable.ChangeTypeCol)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(ch == Set((7L, 70, "update_preimage"), (7L, -1, "update_postimage"),
      (3000L, 1, "insert")), s"got $ch")
  }

  test("merge only reads files in touched buckets") {
    import spark.implicits._
    val (t, _) = freshTable("tx_merge_prune")
    t.overwriteBucketed((0 until 1000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score"), Seq("id"), nBuckets = 16)
    var readFiles: Set[String] = Set.empty
    t.merge(Seq((7L, -1.0)).toDF("id", "score")) { (existing, src) =>
      readFiles = existing.inputFiles.toSet
      existing.join(src.select("id").distinct(), Seq("id"), "left_anti")
        .unionByName(src)
    }
    val allFiles = t.fileEntries(0).size
    assert(readFiles.nonEmpty && readFiles.size < allFiles,
      s"merge read $readFiles of $allFiles files — not pruned to touched buckets")
  }

  test("non-bucketed upsert: file-granular copy-on-write, zone-map planned") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_merge_flat")
    // 8 range-disjoint files — zone maps separate them cleanly
    val base = (0 until 1000).map(i => (i.toLong, s"v$i", i * 1.0))
      .toDF("id", "name", "score").repartitionByRange(8, col("id"))
    t.overwrite(base)
    val before = t.fileEntries(0).map(_.path)
    assert(before.size == 8)
    val sizesBefore = before.map(p =>
      p -> new java.io.File(s"$dir/$p").length()).toMap
    val mtimesBefore = before.map(p =>
      p -> new java.io.File(s"$dir/$p").lastModified()).toMap
    // keys 0..9 live in ONE range file; 2000+ are fresh inserts
    val src = ((0 until 10).map(i => (i.toLong, "UPDATED", -1.0)) ++
      (0 until 5).map(i => (2000L + i, "NEW", 99.0)))
      .toDF("id", "name", "score")
    val v1 = t.upsert(src, keys = Seq("id"))
    assert(v1 == 1)
    val after = t.fileEntries(1).map(_.path)
    val carried = after.toSet.intersect(before.toSet)
    val rewritten = before.toSet.diff(after.toSet)
    assert(rewritten.size == 1,
      s"zone maps must confine the merge to the one file holding 0..9 — " +
        s"rewrote ${rewritten.size} of ${before.size}")
    carried.foreach { p =>
      val f = new java.io.File(s"$dir/$p")
      assert(f.length() == sizesBefore(p) && f.lastModified() == mtimesBefore(p),
        s"untouched file $p was rewritten")
    }
    val r = t.read()
    assert(r.count() == 1005)
    assert(r.where(col("name") === "UPDATED").count() == 10)
    assert(r.where(col("name") === "NEW").count() == 5)
    assert(r.where(col("id") === 500L).select("name").head.getString(0) == "v500")
    assert(t.readVersion(0).where(col("name") === "UPDATED").count() == 0)
  }

  test("non-bucketed mergeClauses on a hive-partitioned table + SQL MERGE INTO") {
    import spark.implicits._
    import graft.core.TxTable.{srcCol, MergeDelete, MergeInsert, MergeUpdate}
    val (t, dir) = freshTable("tx_merge_hive")
    val base = (0 until 300).map(i =>
      (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.0))
      .toDF("id", "event_type", "value")
    t.overwrite(base, partitionBy = Seq("event_type"))
    // conditional delete (kill=true), arithmetic update, labeled insert
    val src = ((0 until 30).map(i => (i * 3L, 10.0, i % 2 == 0)) ++
      Seq((9000L, 1.5, false), (9001L, 2.5, false)))
      .toDF("k", "delta", "kill")
    t.mergeClauses(src, Map("id" -> srcCol("k")),
      matched = Seq(
        MergeDelete(Some(srcCol("kill"))),
        MergeUpdate(None, Map("value" -> (col("value") + srcCol("delta"))))),
      notMatched = Seq(MergeInsert(None, Map(
        "event_type" -> lit("inserted"), "value" -> srcCol("delta")))))
    val r = t.read()
    // matched kill: ids 0,6,12,...,87 (i even → key i*3) drop = 15 rows
    assert(r.count() == 300 - 15 + 2)
    assert(r.where(col("id") === 3L).select("value").head.getDouble(0) == 13.0)
    assert(r.where(col("id") === 0L).count() == 0)
    assert(r.where(col("event_type") === "inserted").count() == 2)
    // hive layout preserved: the insert landed under its own partition dir
    assert(new java.io.File(s"$dir/data").listFiles().exists(_.getName
      .contains("event_type=inserted")) ||
      t.fileEntries(1).exists(_.partition.get("event_type").contains("inserted")))

    // SQL MERGE INTO the same (non-bucketed) table
    src.toDF("k", "delta", "kill").createOrReplaceTempView("mrg_src_flat")
    spark.sql(s"MERGE INTO txtable.`$dir` t USING mrg_src_flat s " +
      "ON t.id = s.k " +
      "WHEN MATCHED AND s.kill THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET value = t.value + s.delta " +
      "WHEN NOT MATCHED THEN INSERT (id, event_type, value) " +
      "VALUES (s.k, 'sqlins', s.delta)")
    val r2 = t.read()
    // second pass: surviving matched odd-i keys update again; killed
    // keys (even i) re-insert under 'sqlins'; 9000/9001 update again
    assert(r2.where(col("id") === 3L).select("value").head.getDouble(0) == 23.0)
    assert(r2.where(col("event_type") === "sqlins").count() == 15)
    assert(r2.where(col("id") === 9000L).select("value").head.getDouble(0) == 3.0)
  }

  test("non-bucketed merge: CDF capture and star-upsert SQL route") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_merge_flat_cdf") + "/t"
    val t = TxTable(spark, dir, changeDataFeed = true)
    t.overwrite((0 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "name").repartitionByRange(4, col("id")))
    // CDF as a TABLE property so the SQL verb's own handle sees it
    t.setProperties(Map(TxTable.PropChangeDataFeed -> "true"))
    Seq((7L, "UP"), (500L, "NEW")).toDF("id", "name")
      .createOrReplaceTempView("mrg_star_flat")
    spark.sql(s"MERGE INTO txtable.`$dir` t USING mrg_star_flat s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().count() == 101)
    assert(t.read().where(col("id") === 7L).select("name").head.getString(0) == "UP")
    val feed = t.changeFeed(1).where(col("_commit_version") === 2)
    val types = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "insert" -> 1L), s"got $types")
  }

  test("non-bucketed merge: deleteKeys, auto-rebase, and schema widening") {
    import spark.implicits._
    // deleteKeys on a flat table routes through the file-granular core
    val (t, _) = freshTable("tx_flat_delkeys")
    t.overwrite(df(0 until 100).repartitionByRange(4, col("id")))
    t.deleteKeys(Seq(7L, 13L, 2000L).toDF("id"), keyCols = Seq("id"))
    assert(t.read().count() == 98)
    assert(t.read().where(col("id").isin(7L, 13L)).count() == 0)
    intercept[IllegalArgumentException] {
      t.deleteKeys(Seq(1L).toDF("id")) // no keyCols on a flat table
    }

    // auto-rebase: a racing commit into DIFFERENT key ranges is
    // harmless (merge recomposes); one into the SAME candidate range
    // conflicts loudly
    val (t2, dir2) = freshTable("tx_flat_rebase")
    t2.overwrite(df(0 until 1000).repartitionByRange(8, col("id")))
    val other = TxTable(spark, dir2)
    // interleave: our merge plans against v0, the racer commits new
    // high-range rows first; candidate pruning (source keys 0..9)
    // proves the added file can't match → auto-rebase keeps BOTH
    var raced = false
    val v = t2.merge(Seq((7L, "UP", -1.0)).toDF("id", "name", "score"),
        sourceIsPinned = true, keys = Seq("id")) { (existing, src) =>
      if (!raced) { raced = true; other.append(df(5000 until 5100)) }
      existing.join(src.select("id").distinct(), Seq("id"), "left_anti")
        .unionByName(src)
    }
    assert(v == 2, "merge must auto-rebase over the racing append")
    assert(t2.read().count() == 1100)
    assert(t2.read().where(col("id") === 7L).select("name").head
      .getString(0) == "UP")

    // schemaAutoMerge: a widened source through the file-granular
    // merge widens the table; untouched files null-backfill
    val (t3, dir3) = freshTable("tx_flat_automerge")
    t3.overwrite(df(0 until 100).repartitionByRange(4, col("id")))
    t3.setProperties(Map(TxTable.PropSchemaAutoMerge -> "true"))
    val t3b = TxTable(spark, dir3)
    t3b.upsert(Seq((7L, "UP", -1.0, "extra"))
      .toDF("id", "name", "score", "tag"), keys = Seq("id"))
    val r = t3b.read()
    assert(r.schema.fieldNames.contains("tag"))
    assert(r.where(col("id") === 7L).select("tag").head.getString(0) == "extra")
    assert(r.where(col("id") === 8L).select("tag").head.isNullAt(0) ||
      r.where(col("id") === 8L).select("tag").head.getString(0) == null)
  }

  test("copy-on-write merge racing a deletion-vector delete on a bucketed " +
      "table refuses instead of resurrecting the row") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_merge_dv_race_bkt") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    t.overwriteBucketed(df(0 until 64), Seq("id"), nBuckets = 4)
    val other = TxTable(spark, dir, deletionVectors = true)
    // the racer re-tags a file the merge already read: same path, new
    // vector — the merge's rewrite of that file would undo the delete
    var raced = false
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq((7L, "UP", -1.0)).toDF("id", "name", "score"),
          touchAllBuckets = true) { (existing, src) =>
        if (!raced) { raced = true; other.deleteWhere(col("id") === 20L) }
        existing.join(src.select("id").distinct(), Seq("id"), "left_anti")
          .unionByName(src)
      }
    }
    assert(e.getMessage.contains("rerun"), e.getMessage)
    assert(t.read().where(col("id") === 20L).count() == 0,
      "the racing delete must stay deleted")
    assert(t.read().count() == 63)
  }

  test("copy-on-write merge racing a deletion-vector delete on a flat " +
      "table refuses instead of resurrecting the row") {
    import spark.implicits._
    val (cow, dir) = freshTable("tx_merge_dv_race_flat")
    cow.overwrite(df(0 until 1000).repartitionByRange(4, col("id")))
    val dv = TxTable(spark, dir, deletionVectors = true)
    // ids 6 and 7 share a file: the merge reads it, the racer vectors it
    var raced = false
    val e = intercept[IllegalArgumentException] {
      cow.merge(Seq((7L, "UP", -1.0)).toDF("id", "name", "score"),
          keys = Seq("id")) { (existing, src) =>
        if (!raced) { raced = true; dv.deleteWhere(col("id") === 6L) }
        existing.join(src.select("id").distinct(), Seq("id"), "left_anti")
          .unionByName(src)
      }
    }
    assert(e.getMessage.contains("rerun"), e.getMessage)
    assert(cow.read().where(col("id") === 6L).count() == 0,
      "the racing delete must stay deleted")
    assert(cow.read().count() == 999)
  }

  test("deleteKeys is copy-on-write; deletePartitions is metadata-only") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_delete")
    t.overwriteBucketed((0 until 1000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score"), Seq("id"), nBuckets = 16)
    val before = t.fileEntries(0).map(_.path).toSet
    t.deleteKeys(Seq(7L, 13L, 2000L).toDF("id")) // 2000 absent: no-op key
    assert(t.read().count() == 998)
    assert(t.read().where(col("id").isin(7L, 13L)).count() == 0)
    val after = t.fileEntries(1).map(_.path).toSet
    assert(after.intersect(before).nonEmpty, "untouched buckets must carry over")
    assert(t.history().last._2 == "delete")
    // time travel: the deleted rows still exist at version 0
    assert(t.readVersion(0).count() == 1000)

    // partition-level delete: zero data files created or read
    val (p, pdir) = freshTable("tx_delete_part")
    val rows = (0 until 90).map(i =>
      (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.0))
      .toDF("id", "event_type", "value")
    p.overwrite(rows, partitionBy = Seq("event_type"))
    def dataFiles(d: String): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f.getPath)
      walk(new java.io.File(s"$d/data")).toSet
    }
    val disk0 = dataFiles(pdir)
    val v = p.deletePartitions(pt => pt("event_type") == "click")
    assert(dataFiles(pdir) == disk0, "partition delete must not touch data files")
    assert(p.read().count() == 60)
    assert(p.read().where(col("event_type") === "click").count() == 0)
    assert(p.readVersion(v - 1).where(col("event_type") === "click").count() == 30)
    // dropped files become vacuumable once v-1 expires
    p.expireSnapshots(keepLast = 1)
    assert(p.vacuum(minAgeMs = 0).nonEmpty)
    assert(p.read().count() == 60)
  }

  test("per-file stats prune a range read; files without overlap never scanned") {
    import spark.implicits._
    val (t, _) = freshTable("tx_stats")
    // range-partitioned write → disjoint id ranges per file
    t.overwrite((0 until 10000).map(i => (i.toLong, s"n$i", i * 1.0))
      .toDF("id", "name", "score").repartitionByRange(8, col("id")))
    val entries = t.fileEntries(0)
    assert(entries.forall(f => f.min.contains("id") && f.max.contains("id")))
    assert(entries.forall(f => f.min.contains("name")), "string stats too")
    val pruned = t.readWhereRange("id", 100, 200)
    assert(pruned.inputFiles.length < entries.size,
      s"no files skipped: ${pruned.inputFiles.length} of ${entries.size}")
    assert(pruned.count() == 101)
    assert(pruned.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(100L, 200L))
    // stats survive append + merge paths and stay conservative:
    // a file without overlap is skipped, result still exact
    t.append(Seq((20000L, "x", 0.0)).toDF("id", "name", "score"))
    assert(t.readWhereRange("id", 19999, 20001).count() == 1)
    // string-range read over the same table (unsigned byte order):
    // lexicographically ["n100","n101"] ∋ n100, n1000..n1009, n101
    val s = t.readWhereRange("name", "n100", "n101")
    assert(s.count() == 12)
    // case-insensitive column resolution (the analyzer's default)
    assert(t.readWhereRange("ID", 100, 200).count() == 101)
  }

  test("float stats never prune rows the residual filter would keep") {
    import spark.implicits._
    val (t, _) = freshTable("tx_stats_float")
    // 0.1f widens to 0.10000000149...; a decimal-space comparison of
    // the stored stat string "0.1" against this bound would wrongly
    // prune the file
    t.overwrite(Seq((1L, 0.1f), (2L, 0.05f)).toDF("id", "fscore"))
    val bound = 0.10000000100
    val r = t.readWhereRange("fscore", bound, 0.2)
    assert(r.count() == 1, "float row inside the bound was pruned away")
    assert(r.head.getLong(0) == 1L)
    // FLOAT bounds (not just double) must agree with the residual
    // filter too: hi = 0.1f — the stat "0.1" widens to 0.10000000149,
    // which exceeds a raw 0.1 double bound but equals the widened
    // float bound; rows at exactly 0.1f must survive
    val rf = t.readWhereRange("fscore", 0.0f, 0.1f)
    assert(rf.count() == 2, "float-typed hi bound pruned a row equal to it")
  }

  test("merge resolver that drops a column is refused") {
    import spark.implicits._
    val (t, _) = freshTable("tx_merge_dropcol")
    t.overwriteBucketed(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "name", "score"), Seq("id"), 4)
    // a resolver emitting only a SUBSET of columns would pass the
    // incoming⊆current check, commit the old schema, and silently
    // null-backfill the rewritten buckets on read — must fail instead
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "a2", 9.9)).toDF("id", "name", "score")) {
        (existing, src) => existing.select("id", "name")
          .unionByName(src.select("id", "name"))
      }
    }
    assert(e.getMessage.contains("dropped column"))
    // nothing committed: the table still reads all three columns intact
    assert(t.read().columns.toSet == Set("id", "name", "score"))
    assert(t.read().where(col("score").isNull).count() == 0)
  }

  test("long string stats truncate: min keeps a 32-char prefix, max drops") {
    import spark.implicits._
    val (t, _) = freshTable("tx_stats_longstr")
    val docs = (0 until 20).map(i => (i.toLong, s"doc_$i " + ("x" * 500)))
      .toDF("id", "text")
    t.overwrite(docs.repartitionByRange(4, col("id")))
    val entries = t.fileEntries(0)
    assert(entries.forall(_.min.get("text").forall(_.length <= 32)),
      "manifest must not embed whole documents as stats")
    assert(entries.forall(!_.max.contains("text")),
      "a truncated string max is not a valid upper bound — must drop")
    // min-prefix pruning still works and never loses rows
    assert(t.readWhereRange("text", "doc_5", "doc_6").count() ==
      docs.where(col("text") >= "doc_5" && col("text") <= "doc_6").count())
  }

  test("z-order compaction: range reads skip files in BOTH curve dimensions") {
    import spark.implicits._
    val (t, _) = freshTable("tx_zorder")
    // 100×100 grid, written in row-major order: a plain x-sort serves
    // x-ranges but every file spans the full y domain
    val grid = (0 until 100).flatMap(x => (0 until 100).map(y =>
      (x.toLong, y.toLong, x * 1000L + y)))
      .toDF("x", "y", "payload")
    t.overwrite(grid.repartitionByRange(16, col("x")))
    val total = t.fileEntries(t.latestVersion.get).size
    val yBefore = t.readWhereRange("y", 10, 15)
    assert(yBefore.inputFiles.length == total,
      "x-sorted layout shouldn't skip anything on y — else the test is vacuous")
    val vz = t.compactZOrder(Seq("x", "y"), targetFileBytes = 8 * 1024)
    val nz = t.fileEntries(vz).size
    assert(nz > 4, s"need several files to demonstrate skipping, got $nz")
    // both dimensions now skip
    val xFiles = t.readWhereRange("x", 10, 15).inputFiles.length
    val yFiles = t.readWhereRange("y", 10, 15).inputFiles.length
    assert(xFiles < nz, s"x-range read $xFiles of $nz files — no skip")
    assert(yFiles < nz, s"y-range read $yFiles of $nz files — no skip")
    // and the rewrite changed no data
    assert(t.readVersion(vz).exceptAll(grid).count() == 0)
    assert(grid.exceptAll(t.readVersion(vz)).count() == 0)
    assertSameContents(t, vz - 1, vz)
    assert(t.readWhereRange("y", 10, 15).count() == 600)
  }

  test("z-order over date × numeric: both dimensions skip after the curve") {
    import spark.implicits._
    val (t, _) = freshTable("tx_zorder_date")
    // 80 days × 80 amounts, written day-major: day-sorted layout
    // serves day ranges but every file spans the full amount domain
    val rows = (0 until 80).flatMap(d => (0 until 80).map(a =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)),
        a.toLong, d * 100L + a)))
      .toDF("day", "amount", "payload")
    t.overwrite(rows.repartitionByRange(16, col("day")))
    val total = t.fileEntries(t.latestVersion.get).size
    assert(t.readWhereRange("amount", 10, 15).inputFiles.length == total,
      "day-sorted layout shouldn't skip on amount — else the test is vacuous")
    val vz = t.compactZOrder(Seq("day", "amount"), targetFileBytes = 8 * 1024)
    val nz = t.fileEntries(vz).size
    assert(nz > 4, s"need several files to demonstrate skipping, got $nz")
    val dayFiles = t.readWhereRange("day",
      java.sql.Date.valueOf("2024-01-10"), java.sql.Date.valueOf("2024-01-15"))
    val amtFiles = t.readWhereRange("amount", 10, 15)
    assert(dayFiles.inputFiles.length < nz, "date-range read skipped nothing")
    assert(amtFiles.inputFiles.length < nz, "amount-range read skipped nothing")
    // pruning is exact: residual results match the full-scan answer
    assert(dayFiles.count() == 6 * 80)
    assert(amtFiles.count() == 6 * 80)
    assert(t.readVersion(vz).exceptAll(rows).count() == 0)
  }

  test("z-order with a string curve column: prefix-rank clustering skips") {
    import spark.implicits._
    val (t, _) = freshTable("tx_zorder_str")
    val rows = (0 until 80).flatMap(g => (0 until 80).map(n =>
      (f"grp_$g%03d", n.toLong, g * 100L + n))).toDF("grp", "n", "payload")
    t.overwrite(rows.repartitionByRange(16, col("n")))
    val vz = t.compactZOrder(Seq("grp", "n"), targetFileBytes = 8 * 1024)
    val nz = t.fileEntries(vz).size
    assert(nz > 4)
    val gf = t.readWhereRange("grp", "grp_010", "grp_015")
    assert(gf.inputFiles.length < nz, "string-range read skipped nothing")
    assert(gf.count() == 6 * 80)
    val nf = t.readWhereRange("n", 10, 15)
    assert(nf.inputFiles.length < nz, "numeric-range read skipped nothing")
    assert(nf.count() == 6 * 80)
  }

  test("z-order WITHIN partitions: layout preserved, curve skips inside") {
    import spark.implicits._
    val (t, _) = freshTable("tx_zorder_part")
    val rows = (0 until 4).flatMap(p => (0 until 40).flatMap(x =>
      (0 until 40).map(y => (s"p$p", x.toLong, y.toLong, x * 100L + y))))
      .toDF("part", "x", "y", "payload")
    t.overwrite(rows, partitionBy = Seq("part"))
    // curving a partition column is refused — pruning already serves it
    val e = intercept[RuntimeException](t.compactZOrder(Seq("part", "x")))
    assert(e.getMessage.contains("partition layout"))
    val vz = t.compactZOrder(Seq("x", "y"), targetFileBytes = 4 * 1024)
    assertSameContents(t, vz - 1, vz)
    val m = t.fileEntries(vz)
    // every rewritten file still belongs to exactly one partition
    assert(m.forall(_.partition.contains("part")))
    // partition pruning still serves the layout column
    val one = t.readWhere(p => p.get("part").contains("p1"))
    assert(one.count() == 1600)
    assert(one.inputFiles.length < m.size)
    // and the curve skips on BOTH curve dimensions within the scan
    val nz = m.size
    assert(t.readWhereRange("x", 5, 8).inputFiles.length < nz)
    assert(t.readWhereRange("y", 5, 8).inputFiles.length < nz)
    assert(t.readWhereRange("y", 5, 8).count() == 4 * 40 * 4)
  }

  test("a pre-delta full-manifest version file is refused by name") {
    val (t, dir) = freshTable("tx_legacy_full")
    t.overwrite(df(0 until 10)) // v0, a delta
    // v1 as a pre-delta writer left it: the whole snapshot listing
    // under `files`, no add/remove
    val files = t.fileEntries(0).map(f => s"""{"path": "${f.path}"}""")
    val full =
      s"""{"version": 1, "operation": "append",
         | "schema_ddl": "id BIGINT,name STRING,score DOUBLE",
         | "files": [${files.mkString(", ")}], "num_files": ${files.size}}"""
        .stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$dir/_graft_log/${1}%020d.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val named =
      "pre-delta full-manifest log entry; this log format is no longer read"
    Seq[(String, () => Any)](
      "read" -> (() => t.read()),
      "changesSince" -> (() => t.changesSince(0)),
      "vacuum" -> (() => t.vacuum(minAgeMs = 0))).foreach { case (verb, call) =>
      val e = intercept[RuntimeException](call())
      assert(e.getMessage.contains(named), s"$verb: ${e.getMessage}")
    }
    // the refusal deleted nothing: v0's files are still on disk
    assert(t.fileEntries(0).forall(f =>
      new java.io.File(s"$dir/${f.path}").exists()))
  }

  test("changesSince reads only appended files; refuses across rewrites") {
    import spark.implicits._
    val (t, _) = freshTable("tx_cdf")
    t.overwrite(df(0 until 10))
    t.append(df(10 until 15))
    t.append(df(15 until 18))
    val changes = t.changesSince(0)
    assert(changes.count() == 8)
    assert(changes.agg(min("id"), max("id")).head() ==
      org.apache.spark.sql.Row(10L, 17L))
    // the scan touches only post-v0 files
    val v0Files = t.fileEntries(0).map(_.path).toSet
    assert(changes.inputFiles.forall(f => !v0Files.exists(f.endsWith)))
    // intermediate window
    assert(t.changesSince(1, Some(2)).count() == 3)
    assert(t.changesSince(2).count() == 0)
    // a compact is dataChange=false: the feed SKIPS it (routine
    // maintenance must not kill consumers) and later appends flow
    t.compact()                 // v3
    assert(t.changesSince(0).count() == 8)
    t.append(df(18 until 20))   // v4
    assert(t.changesSince(0).count() == 10)
    assert(t.changesSince(3).count() == 2, "post-compact appends serve")
    // a genuine rewrite invalidates row semantics: refuse, name it
    t.overwrite(df(0 until 1))  // v5
    val e = intercept[RuntimeException](t.changesSince(0).count())
    assert(e.getMessage.contains("overwrite"))
    // retention invalidates it too: an expired manifest in the polled
    // range emits the reset signal, not a raw missing-file error
    t.expireSnapshots(keepLast = 1)
    val e2 = intercept[RuntimeException](t.changesSince(1))
    assert(e2.getMessage.contains("reset the change-feed consumer"))
  }

  test("streaming source survives a compaction mid-feed") {
    val (t, dir) = freshTable("txsrc_compact")
    t.overwrite(df(0 until 10))  // v0
    t.append(df(10 until 14))    // v1
    val out = EventsStream.scratchDir("txsrc_compact_out")
    def drain(): Long = {
      val q = spark.readStream
        .format(classOf[graft.sources.TxTableSourceProvider].getName)
        .load(dir)
        .writeStream.format("parquet")
        .option("path", s"$out/rows")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    assert(drain() == 14)
    t.compact()                  // v2: must not reset the consumer
    t.append(df(14 until 17))    // v3
    assert(drain() == 3, "only the post-compact appended rows")
    assert(spark.read.parquet(s"$out/rows").count() == 17)
  }

  test("changeFeed serves row-level changes across merge/delete (CDC)") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_cdf_rows") + "/t"
    val t = TxTable(spark, dir, changeDataFeed = true)
    t.overwriteBucketed(df(0 until 10), Seq("id"), nBuckets = 4) // v0
    t.append(df(10 until 13))                                    // v1
    val src = Seq((0L, "name_0", 999.0), (1L, "name_1", 999.0),
      (20L, "name_20", 200.0)).toDF("id", "name", "score")
    t.upsert(src)                                                // v2
    t.deleteKeys(Seq(5L, 6L).toDF("id"))                         // v3
    val feed = t.changeFeed(0)
    // v1 append: its added files ARE the inserts (no extra storage)
    assert(feed.where($"_commit_version" === 1).count() == 3)
    assert(feed.where($"_commit_version" === 1 &&
      $"_change_type" =!= "insert").count() == 0)
    // v2 upsert: pre/post image pairs for updated keys, insert for new
    val v2 = feed.where($"_commit_version" === 2)
    assert(v2.where($"_change_type" === "update_preimage")
      .select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    assert(v2.where($"_change_type" === "update_preimage" &&
      $"score" === 999.0).count() == 0, "preimage must carry the OLD row")
    assert(v2.where($"_change_type" === "update_postimage" &&
      $"score" === 999.0).count() == 2)
    assert(v2.where($"_change_type" === "insert")
      .select("id").as[Long].head() == 20L)
    // v3 delete: delete rows carry the removed content
    val v3 = feed.where($"_commit_version" === 3)
    assert(v3.select("_change_type").distinct().as[String].head() == "delete")
    assert(v3.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 6L))
    assert(feed.count() == 10)
    // compact rewrites identical rows: contributes NO change rows
    t.compact()                                                  // v4
    assert(t.changeFeed(3).count() == 0)
    assert(t.changeFeed(0).count() == 10)
    // CDC files survive vacuum while their log entry is retained
    t.vacuum(0)
    assert(t.changeFeed(0).count() == 10)
    // a rewrite through a NON-CDF handle never recorded row changes:
    // the feed resets instead of silently skipping them
    TxTable(spark, dir).deleteKeys(Seq(7L).toDF("id"))           // v5
    val e = intercept[RuntimeException](t.changeFeed(0).count())
    assert(e.getMessage.contains("reset the change-feed consumer"))
    // windows before the non-CDF commit still serve
    assert(t.changeFeed(0, Some(4)).count() == 10)
  }

  test("concurrent merges on disjoint buckets auto-rebase: all land, no rerun") {
    import spark.implicits._
    val (t, _) = freshTable("tx_rebase")
    t.overwriteBucketed(df(0 until 64), Seq("id"), nBuckets = 8)
    // pick ids landing in 4 DISTINCT buckets (the table's own hash)
    val ids = spark.range(64)
      .select($"id", pmod(hash($"id"), lit(8)).as("b"))
      .as[(Long, Int)].collect()
      .groupBy(_._2).values.map(_.head._1).take(4).toSeq
    assert(ids.size == 4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // before auto-rebase, racing writers threw "rerun merge" even on
    // disjoint buckets; now every loser recomposes against the new
    // snapshot and publishes — no caller-side retry loop
    val futs = ids.map { id =>
      Future(t.upsert(Seq((id, s"name_$id", -1.0)).toDF("id", "name", "score")))
    }
    Await.result(Future.sequence(futs), 180.seconds)
    pool.shutdown()
    assert(t.versions.size == 5, "base + one commit per merge")
    assert(t.read().count() == 64)
    assert(t.read().where($"score" === -1.0)
      .select("id").as[Long].collect().sorted.toSeq == ids.sorted)
    // overlapping-bucket writes remain a REAL conflict: same key from
    // a stale base fails loudly instead of silently dropping a writer
    // (exercised via the stale-handle path in the CDF/reset specs)
  }

  test("concurrent partition deletes on different partitions both land") {
    import spark.implicits._
    val (t, _) = freshTable("tx_pdel_race")
    val rows = (0 until 60).map(i => (i.toLong, s"p${i % 3}", i * 1.0))
      .toDF("id", "grp", "value")
    t.overwrite(rows, partitionBy = Seq("grp"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // each racer's own matching set is untouched by the other's
    // commit, so the loser auto-rebases instead of demanding a rerun
    Await.result(Future.sequence(Seq("p0", "p2").map(p =>
      Future(t.deletePartitions(q => q.get("grp").contains(p))))), 120.seconds)
    pool.shutdown()
    assert(t.versions.size == 3)
    assert(t.read().select("grp").distinct().as[String].collect().toSeq == Seq("p1"))
    assert(t.read().count() == 20)
  }

  test("a partition delete racing a merge-on-read delete refuses instead " +
      "of capturing its rows twice") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_cdf_part_race") + "/t"
    val t = TxTable(spark, dir, changeDataFeed = true)
    t.overwrite((0 until 30).map(i => (i.toLong, if (i % 3 == 0) "a" else "b",
      i * 1.0)).toDF("id", "grp", "value"), partitionBy = Seq("grp"))
    val racer = TxTable(spark, dir, changeDataFeed = true, deletionVectors = true)
    // the racer re-tags a file of partition a after the delete planned
    var raced = false
    val e = intercept[IllegalArgumentException] {
      t.deletePartitions { p =>
        if (!raced) { raced = true; racer.deleteWhere(col("id") === 3L) }
        p.get("grp").contains("a")
      }
    }
    assert(e.getMessage.contains("rerun"), e.getMessage)
    assert(t.changeFeed(0).where(col("id") === 3L).count() == 1)
    assert(t.read().count() == 29)
  }

  test("partition delete through a CDF handle captures the dropped rows") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_cdf_part") + "/t"
    val t = TxTable(spark, dir, changeDataFeed = true)
    val rows = (0 until 30).map(i => (i.toLong, if (i % 3 == 0) "a" else "b", i * 1.0))
      .toDF("id", "grp", "value")
    t.overwrite(rows, partitionBy = Seq("grp"))          // v0
    t.deletePartitions(p => p.get("grp").contains("a"))  // v1
    assert(t.read().count() == 20)
    val feed = t.changeFeed(0)
    assert(feed.count() == 10)
    assert(feed.select("_change_type").distinct().as[String].head() == "delete")
    assert(feed.select("grp").distinct().as[String].head() == "a")
    assert(feed.agg(sum("id")).head.getLong(0) == (0 until 30 by 3).sum)
    // the same delete through a NON-CDF handle stays metadata-only
    // and resets the feed (the documented trade)
    val t2 = TxTable(spark, dir)
    val before = new java.io.File(s"$dir/data").listFiles().length
    t2.deletePartitions(p => p.get("grp").contains("b")) // v2
    assert(new java.io.File(s"$dir/data").listFiles().length == before,
      "non-CDF partition delete must write no data files")
    val e = intercept[RuntimeException](t.changeFeed(0).count())
    assert(e.getMessage.contains("reset the change-feed consumer"))
    assert(t.changeFeed(0, Some(1)).count() == 10)
  }

  test("snapshot resolution stays O(1) as the log grows (hint + probe, no listing)") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_hint")
    val one = Seq((1L, "x", 0.0)).toDF("id", "name", "score")
    t.overwrite(one)
    (1 to 200).foreach(_ => t.append(one.limit(0)))
    assert(t.latestVersion.contains(200L))
    // a FRESH handle (no driver state) resolves with a bounded number
    // of filesystem calls: hint read + manifest probes, NOT an
    // O(commits) directory listing
    val t2 = TxTable(spark, dir)
    assert(t2.latestVersion.contains(200L))
    assert(t2.lastResolveOps <= 5,
      s"resolution cost grew with the log: ${t2.lastResolveOps} fs ops")
    // a stale hint under-counts and the probe recovers: simulate a
    // writer that crashed before updating the hint
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_graft_log/_latest"), "197".getBytes)
    val t3 = TxTable(spark, dir)
    assert(t3.latestVersion.contains(200L))
    // a torn hint falls back to the listing, still correct
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_graft_log/_latest"), "garbage".getBytes)
    assert(TxTable(spark, dir).latestVersion.contains(200L))
  }

  test("txn tags make streaming commits exactly-once: replayed batch no-ops") {
    import spark.implicits._
    val (t, _) = freshTable("tx_txn")
    val df0 = Seq((1L, 10.0)).toDF("id", "score")
    t.overwriteBucketed(df0, Seq("id"), nBuckets = 4, txn = Some("app" -> 0L))
    t.upsert(Seq((2L, 20.0)).toDF("id", "score"), txn = Some("app" -> 1L))
    assert(t.lastTxn("app").contains(1L))
    assert(t.lastTxn("other").isEmpty)
    // the streaming writer's guard: a replay of batch 1 sees its own
    // prior commit and skips — zero new versions
    val before = t.latestVersion
    if (!t.lastTxn("app").exists(_ >= 1L))
      t.upsert(Seq((2L, 999.0)).toDF("id", "score"), txn = Some("app" -> 1L))
    assert(t.latestVersion == before, "replayed batch must not commit")
    assert(t.read().where(col("id") === 2L).head.getDouble(1) == 20.0)
    // txn map carries forward across unrelated commits
    t.append(Seq((3L, 30.0)).toDF("id", "score"))
    assert(t.lastTxn("app").contains(1L))
  }

  test("compact preserves a bucketed layout and merges still prune after it") {
    import spark.implicits._
    val (t, _) = freshTable("tx_compact_bucketed")
    t.overwriteBucketed((0 until 500).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score").repartition(8), Seq("id"), nBuckets = 8)
    val vc = t.compact()
    val entries = t.fileEntries(vc)
    assert(entries.forall(_.partition.contains("__bucket")))
    assert(t.read().count() == 500)
    // merge after compact still rewrites a strict subset
    t.upsert(Seq((3L, -3.0)).toDF("id", "score"))
    val after = t.fileEntries(vc + 1).map(_.path).toSet
    assert(after.intersect(entries.map(_.path).toSet).nonEmpty)
    assert(t.read().where(col("id") === 3L).head.getDouble(1) == -3.0)
  }

  test("vacuum retention: young unreferenced files survive the sweep") {
    val (t, dir) = freshTable("tx_retention")
    t.overwrite(df(0 until 5))
    df(900 until 910).write.parquet(s"$dir/data/w-inflight")
    // an in-flight writer's files are younger than any sane horizon:
    // the default-retention vacuum must NOT eat them
    assert(t.vacuum().isEmpty)
    assert(spark.read.parquet(s"$dir/data/w-inflight").count() == 10)
  }

  test("vacuum sweeps a many-file table on the pool: every dead file dies, " +
      "live files and the snapshot survive") {
    val (t, dir) = freshTable("tx_vacuum_many")
    // v0: 120 files across many write dirs; the overwrite at v1
    // orphans ALL of them — a few hundred dead files across parallel
    // walk + chunked delete exercises every phase boundary
    (0 until 6).foreach { b =>
      if (b == 0) t.overwrite(df(0 until 200).repartition(20))
      else t.append(df(b * 200 until (b + 1) * 200).repartition(20))
    }
    val deadExpected = t.fileEntries(5L).map(_.path).toSet
    assert(deadExpected.size == 120)
    t.overwrite(df(0 until 10))              // v6: all 120 now dead
    t.expireSnapshots(keepLast = 1)
    val dry = t.vacuum(0, dryRun = true)
    // vacuum also sweeps unreferenced _SUCCESS markers; the parquet
    // subset must be exactly the orphaned snapshot
    assert(dry.filter(_.endsWith(".parquet")).toSet == deadExpected,
      "dry run must report exactly the dead set")
    // dry run deleted nothing
    assert(deadExpected.forall(p => new java.io.File(s"$dir/$p").exists()))
    val swept = t.vacuum(0)
    assert(swept.filter(_.endsWith(".parquet")).toSet == deadExpected)
    assert(deadExpected.forall(p => !new java.io.File(s"$dir/$p").exists()))
    assert(t.read().count() == 10)
    // second sweep finds nothing — the dir tree is clean
    assert(t.vacuum(0).isEmpty)
  }

  test("delta log at scale: 200 commits / 10k files — commit bytes ∝ delta, " +
      "reconstruction bounded by the checkpoint interval") {
    val (t, dir) = freshTable("tx_log_scale")
    val ddl = "id BIGINT, v DOUBLE"
    // 200 synthetic commits × 50 files = 10,000 live files; the seam
    // skips data IO but runs the full commit/checkpoint machinery
    (0 until 200).foreach { c =>
      val add = (0 until 50).map(i =>
        TxTable.FileEntry(f"data/w-$c%03d/part-$i%04d.parquet", Map.empty))
      t.commitSynthetic(if (c == 0) "overwrite" else "append", add, schemaDdl = ddl)
    }
    assert(t.latestVersion.contains(199L))
    // the writer's cached state, before any cold read replaces it
    val written = t.fileEntries(199)
    def logBytes(name: String): Long =
      new java.io.File(s"$dir/_graft_log/$name").length()
    // per-commit log bytes ∝ the DELTA (50 files), never the table:
    // the last delta stays the size of the first even though the
    // table grew 200×; the checkpoint (full listing) is ~100× bigger
    val d0   = logBytes(f"${0L}%020d.json")
    val d199 = logBytes(f"${199L}%020d.json")
    val ck   = logBytes(f"${190L}%020d.checkpoint.json")
    assert(d199 <= d0 * 2, s"delta grew with table size: $d0 -> $d199 bytes")
    assert(ck > d199 * 20, s"checkpoint ($ck B) should dwarf a delta ($d199 B)")
    // checkpoints land on the interval cadence
    assert((10L to 190L by 10L).forall(v =>
      logBytes(f"$v%020d.checkpoint.json") > 0))
    // COLD reconstruction (fresh process: no JVM cache) replays at
    // most ~interval deltas from the hinted checkpoint — never the
    // whole log
    val t2 = TxTable(spark, dir)
    t2.invalidateCachedState()
    assert(t2.fileEntries(199).size == 10000)
    assert(t2.lastStateOps <= 2 * graft.core.TxTable.CheckpointInterval + 5,
      s"cold state reconstruction cost grew with the log: ${t2.lastStateOps} ops")
    assert(t2.fileEntries(199) == written,
      "the cold replay and the writer's state list different entries")
    // the warm path (a writer re-reading its own table) reads no log
    // at all — one freshness probe against the cached state
    assert(t.fileEntries(199).size == 10000)
    assert(t.lastStateOps <= 1)
    // time travel mid-log: bounded by the walk to the nearest checkpoint
    t2.invalidateCachedState()
    assert(t2.fileEntries(155).size == 156 * 50)
    assert(t2.lastStateOps <= 2 * graft.core.TxTable.CheckpointInterval + 5,
      s"mid-log time travel cost grew with the log: ${t2.lastStateOps} ops")
    // expiry keeps the retained range reconstructible: the oldest kept
    // version gets a forced checkpoint before its ancestors die
    val dropped = t.expireSnapshots(keepLast = 5)
    assert(dropped == (0L until 195L))
    assert(new java.io.File(s"$dir/_graft_log/${f"${195L}%020d"}.checkpoint.json").exists())
    t.invalidateCachedState()
    assert(t.fileEntries(199).size == 10000)
    assert(t.fileEntries(195).size == 196 * 50)
    intercept[Exception] { t.readVersion(100) }
  }

  test("the writer's snapshot equals a cold replay, order included") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_replay_order")
    // three files with disjoint id ranges: each delete vectors one file
    t.overwrite((0 until 30).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartitionByRange(3, col("id")))
    t.setProperties(Map(TxTable.PropDeletionVectors -> "true"))
    t.deleteWhere(col("id") === 0L)
    t.deleteWhere(col("id") === 10L)
    // the restore re-adds the two un-vectored entries and carries the
    // third, which replay keeps in its place at the head of the list
    assert(t.restore(1) == 4L)
    val written = t.fileEntries(4)
    assert(written.size == 3)
    val cold = TxTable(spark, dir)
    cold.invalidateCachedState()
    assert(cold.fileEntries(4) == written,
      s"writer ${written.map(_.path)} vs cold ${cold.fileEntries(4).map(_.path)}")
    val v4 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(f"$dir/_graft_log/${4}%020d.json"))
    assert(v4.get("add").size == 2 && v4.get("remove").size == 2)
    assert(cold.read().count() == 30)
  }

  test("deleteWhere rewrites only files holding matching rows; " +
      "zero matches commit nothing") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_delw")
    // range-partitioned ingest → disjoint id ranges per file, so the
    // predicate's zone-map constraints isolate one file
    t.overwrite((0 until 8000).map(i => (i.toLong, s"n$i", i * 1.0))
      .toDF("id", "name", "score").repartitionByRange(8, col("id")))
    val before = t.fileEntries(0).map(_.path)
    val sizes = before.map(p => p -> new java.io.File(s"$dir/$p").length()).toMap
    val mtimes = before.map(p => p -> new java.io.File(s"$dir/$p").lastModified()).toMap
    val v1 = t.deleteWhere(col("id") < 500L)
    assert(v1 == 1)
    assert(t.read().count() == 7500)
    assert(t.read().agg(min("id")).head.getLong(0) == 500L)
    val after = t.fileEntries(1).map(_.path)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size == before.size - 1,
      s"only the one file with ids<500 should rewrite — carried ${carried.size} of ${before.size}")
    carried.foreach { p =>
      val f = new java.io.File(s"$dir/$p")
      assert(f.length() == sizes(p) && f.lastModified() == mtimes(p),
        s"untouched file $p was rewritten")
    }
    // time travel to the pre-delete snapshot
    assert(t.readVersion(0).count() == 8000)
    assert(t.history().last._2 == "delete")
    // zero matches: NO commit at all (returns the current version)
    val v2 = t.deleteWhere(col("id") < 500L)
    assert(v2 == v1 && t.versions == Seq(0L, 1L),
      "a no-match delete must not commit")
    // rows where the predicate is NULL are kept (SQL DELETE semantics)
    val (tn, _) = freshTable("tx_delw_null")
    tn.overwrite(Seq((1L, "a"), (2L, null), (3L, "x"))
      .toDF("id", "tag"))
    tn.deleteWhere(col("tag") === "x")
    assert(tn.read().count() == 2)
    assert(tn.read().where(col("tag").isNull).count() == 1,
      "NULL-predicate rows must survive a DELETE")
  }

  test("deleteWhere on bucketed and partitioned layouts keeps the layout") {
    import spark.implicits._
    val (tb, _) = freshTable("tx_delw_bkt")
    tb.overwriteBucketed((0 until 1000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score"), Seq("id"), nBuckets = 16)
    tb.deleteWhere(col("score") > 990.0)
    assert(tb.read().count() == 991)
    // merge still routes after the predicate delete (layout intact)
    tb.upsert(Seq((5L, -1.0)).toDF("id", "score"))
    assert(tb.read().where(col("id") === 5L).head.getDouble(1) == -1.0)

    val (tp, _) = freshTable("tx_delw_part")
    tp.overwrite((0 until 90).map(i =>
        (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.0))
      .toDF("id", "event_type", "value"), partitionBy = Seq("event_type"))
    tp.deleteWhere(col("event_type") === "view" && col("id") < 30L)
    assert(tp.read().count() == 80)
    // partition pruning still serves the surviving layout
    assert(tp.readWhere(p => p("event_type") == "view").count() == 20)
  }

  test("updateWhere: simultaneous assignment, relocation across layout, " +
      "type change refused") {
    import spark.implicits._
    val (t, _) = freshTable("tx_upd")
    t.overwrite(Seq((1L, 10.0, 20.0), (2L, 1.0, 2.0))
      .toDF("id", "a", "b"))
    // SQL simultaneous-assignment rule: both RHS see the OLD row
    t.updateWhere(col("id") === 1L, Map("a" -> col("b"), "b" -> col("a")))
    val r = t.read().where(col("id") === 1L).head
    assert(r.getDouble(1) == 20.0 && r.getDouble(2) == 10.0,
      s"swap must read pre-update values, got $r")
    assert(t.read().where(col("id") === 2L).head.getDouble(1) == 1.0)
    assert(t.history().last._2 == "update")
    // type-changing SET refused
    intercept[Exception] {
      t.updateWhere(col("id") === 2L, Map("a" -> lit("oops")))
    }
    // updating a partition column relocates rows into the new partition
    val (tp, _) = freshTable("tx_upd_part")
    tp.overwrite((0 until 60).map(i =>
        (i.toLong, if (i % 2 == 0) "hot" else "cold", i * 1.0))
      .toDF("id", "tier", "v"), partitionBy = Seq("tier"))
    tp.updateWhere(col("tier") === "cold" && col("id") < 10L,
      Map("tier" -> lit("hot")))
    assert(tp.readWhere(p => p("tier") == "hot").count() == 35)
    assert(tp.readWhere(p => p("tier") == "cold").count() == 25)
    assert(tp.read().count() == 60)
  }

  test("predicate DML through a CDF handle captures delete rows and " +
      "update pre/post images") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_dml_cdf") + "/t"
    val t = TxTable(spark, dir, changeDataFeed = true)
    t.overwrite((0 until 100).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    t.deleteWhere(col("id") >= 90L)                       // v1: 10 deletes
    t.updateWhere(col("id") < 5L, Map("v" -> (col("v") + 1000.0))) // v2
    val feed = t.changeFeed(0).cache()
    assert(feed.where(col(TxTable.ChangeTypeCol) === "delete").count() == 10)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_preimage")
      .count() == 5)
    val post = feed.where(col(TxTable.ChangeTypeCol) === "update_postimage")
    assert(post.count() == 5)
    assert(post.agg(min("v")).head.getDouble(0) == 1000.0)
    feed.unpersist()
  }

  test("8 threads deleting disjoint ranges: auto-rebase lands them all") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (t, dir) = freshTable("tx_delw_race")
    // hive-partition on id/1000: file id-ranges are DISJOINT BY
    // CONSTRUCTION (repartitionByRange's sampled boundaries can
    // overshoot into a neighbor's delete window, making two threads
    // share a file — a real conflict, not a rebase)
    t.overwrite((0 until 8000).map(i => (i.toLong, i / 1000, i * 1.0))
      .toDF("id", "grp", "v"), partitionBy = Seq("grp"))
    val handles = (0 until 8).map(_ => TxTable(spark, dir))
    val fs = (0 until 8).map { k => Future {
      // each window sits inside one partition's files; racing commits
      // rewrite OTHER partitions and add only non-candidate ranges →
      // every loser rebases
      handles(k).deleteWhere(
        col("id") >= k * 1000L + 10L && col("id") < k * 1000L + 20L)
    }}
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.toSet.size == 8, s"every delete lands its own commit: $versions")
    assert(t.read().count() == 8000 - 80)
    assert(t.read().where(col("id") === 15L).count() == 0)
    assert(t.read().where(col("id") === 25L).count() == 1)
  }

  test("restore is metadata-only, rewinds content, and survives expiry") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_restore")
    t.overwrite((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "tag")) // v0
    t.overwrite(Seq((999L, "gone")).toDF("id", "tag"))                        // v1
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f.getPath)
      walk(new java.io.File(s"$dir/data")).toSet
    }
    val disk = dataFiles()
    val v2 = t.restore(0)
    assert(v2 == 2)
    assert(dataFiles() == disk, "restore must not read or write data files")
    assert(t.read().count() == 100)
    assert(t.read().where(col("tag") === "gone").count() == 0)
    // history preserved: the undone version stays time-travelable
    assert(t.readVersion(1).count() == 1)
    assert(t.history().map(_._2) == Seq("overwrite", "overwrite", "restore"))
    // future versions refused
    intercept[Exception] { t.restore(99) }
    // change feeds reset across the rewind
    val ex = intercept[Exception] { t.changesSince(1) }
    assert(ex.getMessage.contains("restore"))
    // the restored files survive expiry of their ORIGINAL commit:
    // the restore manifest keeps them live through vacuum
    t.expireSnapshots(keepLast = 1)
    assert(t.vacuum(minAgeMs = 0).nonEmpty, "v1's orphaned file sweeps")
    assert(t.read().count() == 100, "restored content intact after vacuum")
  }

  test("deletion-vector delete: no data file rewritten, reads exclude " +
      "the rows, vectors accumulate") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_dv") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    t.overwrite((0 until 8000).map(i => (i.toLong, s"n$i", i * 1.0))
      .toDF("id", "name", "score").repartitionByRange(8, col("id")))
    val before = t.fileEntries(0).map(_.path)
    val sizes = before.map(p => p -> new java.io.File(s"$dir/$p").length()).toMap
    val mtimes = before.map(p => p -> new java.io.File(s"$dir/$p").lastModified()).toMap
    val v1 = t.deleteWhere(col("id") < 500L)
    assert(v1 == 1)
    assert(t.read().count() == 7500)
    assert(t.read().agg(min("id")).head.getLong(0) == 500L)
    // EVERY data file carried byte-identical — merge-on-read never
    // rewrites; the affected entry just gained a vector reference
    val after = t.fileEntries(1)
    assert(after.map(_.path).toSet == before.toSet,
      "MoR delete must not add or remove data files")
    before.foreach { p =>
      val f = new java.io.File(s"$dir/$p")
      assert(f.length() == sizes(p) && f.lastModified() == mtimes(p),
        s"data file $p was rewritten by a MoR delete")
    }
    val dved = after.filter(_.dvPath.isDefined)
    assert(dved.map(_.dvRows).sum == 500,
      s"vector bookkeeping: expected 500 deleted rows, got ${dved.map(_.dvRows)}")
    // time travel ignores the vector's commit
    assert(t.readVersion(0).count() == 8000)
    // second delete overlapping the SAME file accumulates (union, no chain)
    val v2 = t.deleteWhere(col("id") >= 500L && col("id") < 700L)
    assert(v2 == 2 && t.read().count() == 7300)
    assert(t.read().agg(min("id")).head.getLong(0) == 700L)
    assert(t.fileEntries(2).map(_.dvRows).sum == 700)
    assert(t.fileEntries(2).forall(f => f.dvPath.size <= 1),
      "one vector per entry — later deletes replace, never chain")
    // re-deleting already-deleted rows is a no-op: no commit
    assert(t.deleteWhere(col("id") < 700L) == v2)
    // NULL-predicate rows are kept (SQL DELETE semantics)
    val dn = EventsStream.scratchDir("tx_dv_null") + "/t"
    val tn = TxTable(spark, dn, deletionVectors = true)
    tn.overwrite(Seq((1L, "a"), (2L, null), (3L, "x")).toDF("id", "tag"))
    tn.deleteWhere(col("tag") === "x")
    assert(tn.read().count() == 2)
    assert(tn.read().where(col("tag").isNull).count() == 1)
  }

  test("deletion vectors: format + SQL reads exclude rows; compact purges " +
      "vectors; vacuum lifecycle") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_dv_fmt") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    t.overwrite((0 until 4000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score").repartitionByRange(4, col("id")))
    t.deleteWhere(col("id") < 300L)
    // batch format read: count + pushed filter both see scan-minus-DV
    val fmt = spark.read.format("txtable").load(dir)
    assert(fmt.count() == 3700)
    assert(fmt.where(col("id") < 1000L).count() == 700)
    assert(fmt.agg(sum("id")).head.getLong(0) ==
      (300L until 4000L).sum)
    // SQL seam over the same snapshot
    assert(spark.sql(s"SELECT count(*) AS n FROM txtable.`$dir`")
      .head.getLong(0) == 3700)
    assert(spark.sql(
        s"SELECT count(*) AS n FROM txtable.`$dir` WHERE id >= 3000")
      .head.getLong(0) == 1000)
    // streaming initial-snapshot read excludes the vector rows too
    val sq = spark.readStream.format("txtable").load(dir)
      .groupBy().agg(count(lit(1)).as("n"), sum("id").as("s"))
    val streamed = EventsStream.runAvailableNow(spark, sq, "dv_snap",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    assert(streamed.head.getLong(0) == 3700)
    // UPDATE on a DV'd file (merge-on-read under this handle) must
    // not resurrect deleted rows
    t.updateWhere(col("id") === 350L, Map("score" -> lit(-1.0)))
    assert(t.read().count() == 3700)
    assert(t.read().agg(min("id")).head.getLong(0) == 300L)
    assert(t.read().where(col("score") === -1.0).count() == 1)
    val afterUpdate = t.fileEntries(t.versions.last)
    assert(afterUpdate.count(_.dvPath.isDefined) == 0 ||
      afterUpdate.filter(_.dvPath.isDefined).forall(_.dvRows > 0))
    // compact purges every vector: same rows, no dv references
    t.compact()
    val compacted = t.fileEntries(t.versions.last)
    assert(compacted.forall(_.dvPath.isEmpty),
      "compact must rewrite vectors away")
    assert(t.read().count() == 3700)
    assert(t.read().agg(min("id")).head.getLong(0) == 300L)
    // vector files survive vacuum while their log entries live...
    assert(t.vacuum(minAgeMs = 0).isEmpty ||
      t.read().count() == 3700, "premature sweep broke the table")
    // ...and sweep once history expires
    t.expireSnapshots(keepLast = 1)
    t.vacuum(minAgeMs = 0)
    assert(t.read().count() == 3700, "table intact after expiry+vacuum")
  }

  test("mergeClauses: conditional update/delete/insert, first-true clause " +
      "wins, untouched buckets carried") {
    import spark.implicits._
    import TxTable.{srcCol, MergeDelete, MergeInsert, MergeUpdate}
    val (t, dir) = freshTable("tx_mrg_cl")
    t.overwriteBucketed((0 until 1000).map(i =>
        (i.toLong, i * 1.0, "base")).toDF("id", "score", "status"),
      Seq("id"), nBuckets = 16)
    val before = t.fileEntries(0).map(_.path)
    val sizes = before.map(p => p -> new java.io.File(s"$dir/$p").length()).toMap
    // source under DIFFERENT column names: sid routes via the ON map
    val src = Seq(
      (3L, 100.0, false),   // matched, not killed -> score += delta
      (7L, 0.0, true),      // matched, killed     -> delete
      (2000L, 5.0, false),  // not matched         -> insert as "new"
      (3000L, 9.0, true)    // not matched, killed  -> insert too (cond on insert clause filters kills)
    ).toDF("sid", "delta", "kill")
    t.mergeClauses(src,
      sourceKeys = Map("id" -> srcCol("sid")),
      matched = Seq(
        MergeDelete(Some(srcCol("kill") === true)),
        MergeUpdate(None, Map("score" -> (col("score") + srcCol("delta"))))),
      notMatched = Seq(
        MergeInsert(Some(srcCol("kill") === false),
          Map("score" -> srcCol("delta"), "status" -> lit("new")))))
    val out = t.read()
    assert(out.count() == 1000, "1000 - 1 deleted + 1 inserted")
    assert(out.where(col("id") === 3L).head.getDouble(1) == 103.0)
    assert(out.where(col("id") === 7L).count() == 0, "killed row deleted")
    val ins = out.where(col("id") === 2000L).head
    assert(ins.getDouble(1) == 5.0 && ins.getString(2) == "new")
    assert(out.where(col("id") === 3000L).count() == 0,
      "insert clause condition must filter")
    assert(out.where(col("status") === "base").count() == 999,
      "the update touches score only — every surviving original row keeps status")
    // untouched buckets byte-identical (no by-source clause)
    val after = t.fileEntries(1).map(_.path)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.nonEmpty)
    carried.foreach(p => assert(
      new java.io.File(s"$dir/$p").length() == sizes(p)))
    // WHEN NOT MATCHED BY SOURCE THEN DELETE: full-table semantics —
    // keep only ids present in the source
    t.mergeClauses(Seq(3L, 2000L).toDF("sid"),
      sourceKeys = Map("id" -> srcCol("sid")),
      notMatchedBySource = Seq(MergeDelete(None)))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(3L, 2000L))
    // ambiguous source (two rows per key) raises at execution
    val dup = Seq((3L, 1.0, false), (3L, 2.0, false)).toDF("sid", "delta", "kill")
    val ex = intercept[Exception] {
      t.mergeClauses(dup, Map("id" -> srcCol("sid")),
        matched = Seq(MergeUpdate(None,
          Map("score" -> srcCol("delta")))))
    }
    assert(ex.getMessage.contains("more than one source row") ||
      Option(ex.getCause).exists(_.getMessage.contains("more than one source row")))
    // updating a bucket key is refused up front
    val ex2 = intercept[Exception] {
      t.mergeClauses(src, Map("id" -> srcCol("sid")),
        matched = Seq(MergeUpdate(None, Map("id" -> lit(0L)))))
    }
    assert(ex2.getMessage.contains("bucket key"))
  }

  test("mergeClauses SET */INSERT * equals upsert; CDF captures the " +
      "clause-merge rows") {
    import spark.implicits._
    import TxTable.{srcCol, MergeInsert, MergeUpdate}
    val dirA = EventsStream.scratchDir("tx_mrg_star_a") + "/t"
    val dirB = EventsStream.scratchDir("tx_mrg_star_b") + "/t"
    val base = (0 until 500).map(i => (i.toLong, i * 1.0)).toDF("id", "score")
    val src = (490 until 510).map(i => (i.toLong, -1.0)).toDF("id", "score")
    val ta = TxTable(spark, dirA); ta.overwriteBucketed(base, Seq("id"), 8)
    val tb = TxTable(spark, dirB); tb.overwriteBucketed(base, Seq("id"), 8)
    ta.upsert(src)
    tb.mergeClauses(src, Map("id" -> srcCol("id")),
      matched = Seq(MergeUpdate(None, Map.empty)),      // SET *
      notMatched = Seq(MergeInsert(None, Map.empty)))   // INSERT *
    assert(ta.read().exceptAll(tb.read()).count() == 0)
    assert(tb.read().exceptAll(ta.read()).count() == 0)
    // CDF handle: the clause merge lands pre/post images like upsert
    val tc = TxTable(spark, dirB, changeDataFeed = true)
    val v = tc.mergeClauses(Seq((5L, 99.0)).toDF("id", "score"),
      Map("id" -> srcCol("id")),
      matched = Seq(MergeUpdate(None, Map("score" -> srcCol("score")))))
    val feed = tc.changeFeed(v - 1)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_preimage")
      .count() == 1)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_postimage")
      .where(col("score") === 99.0).count() == 1)
  }

  test("merge-on-read UPDATE: vector hides the pre-image, replacements " +
      "append, relocation and CDF work") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_dv_upd") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true, changeDataFeed = true)
    t.overwrite((0 until 4000).map(i => (i.toLong, i * 1.0, i % 3))
      .toDF("id", "score", "grp").repartitionByRange(4, col("id")))
    val before = t.fileEntries(0).map(_.path)
    val sizes = before.map(p => p -> new java.io.File(s"$dir/$p").length()).toMap
    val v1 = t.updateWhere(col("id") === 1234L, Map("score" -> lit(-1.0)))
    // every original data file byte-identical; the replacement row
    // appended as a new file; the old position vectored
    val after = t.fileEntries(v1)
    before.foreach { p =>
      assert(new java.io.File(s"$dir/$p").length() == sizes(p),
        s"MoR update must not rewrite $p")
    }
    assert(after.map(_.path).toSet.intersect(before.toSet) == before.toSet)
    assert(after.size == before.size + 1, "one appended replacement file")
    assert(after.map(_.dvRows).sum == 1)
    assert(t.read().count() == 4000)
    assert(t.read().where(col("id") === 1234L).head.getDouble(1) == -1.0)
    // CDF captured the pre/post images
    val feed = t.changeFeed(v1 - 1)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_preimage")
      .head.getDouble(1) == 1234.0)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "update_postimage")
      .head.getDouble(1) == -1.0)
    // a later MoR delete accumulates into the same vector machinery
    t.deleteWhere(col("id") === 1234L)
    assert(t.read().where(col("id") === 1234L).count() == 0)
    assert(t.read().count() == 3999)
    // relocation: updating a hive-partition column moves the row via
    // vector + append, partition pruning still serves it
    val pdir = EventsStream.scratchDir("tx_dv_upd_part") + "/t"
    val tp = TxTable(spark, pdir, deletionVectors = true)
    tp.overwrite((0 until 90).map(i =>
        (i.toLong, Seq("click", "view", "purchase")(i % 3), i * 1.0))
      .toDF("id", "event_type", "value"), partitionBy = Seq("event_type"))
    val pBefore = tp.fileEntries(tp.versions.last).map(_.path).toSet
    tp.updateWhere(col("id") === 0L, Map("event_type" -> lit("purchase")))
    assert(tp.fileEntries(tp.versions.last).map(_.path).toSet
      .intersect(pBefore) == pBefore, "no partition file rewritten")
    assert(tp.readWhere(p => p("event_type") == "purchase")
      .where(col("id") === 0L).count() == 1, "row relocated to the new partition")
    assert(tp.readWhere(p => p("event_type") == "click")
      .where(col("id") === 0L).count() == 0)
    assert(tp.read().count() == 90)
  }

  test("optimize honors the table's z-order property; explicit ZORDER BY " +
      "overrides") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_opt_prop") + "/t"
    val t = TxTable(spark, dir)
    // a row-major grid: x-sorted files skip nothing on y until z-ordered
    t.overwrite((0 until 64).flatMap(x => (0 until 64).map(y =>
        (x.toLong, y.toLong, s"v$x-$y")))
      .toDF("x", "y", "v").repartitionByRange(8, col("x")))
    t.setProperties(Map(TxTable.PropZOrderColumns -> "x, y"))
    // small target keeps several files so the skip is observable
    t.optimize(targetFileBytes = 4096)
    assert(t.history().last._2 == "compact")
    // both curve dimensions now skip on range reads
    val nAll = t.fileEntries(t.versions.last).size
    assert(nAll >= 4, s"expected several optimized files, got $nAll")
    def scanned(c: String) = {
      val reads = t.readWhereRange(c, 0L, 7L)
      assert(reads.count() == 8 * 64)
      reads.inputFiles.length
    }
    assert(scanned("x") < nAll && scanned("y") < nAll,
      "the property-driven optimize must z-order BOTH dimensions")
    assert(t.read().count() == 64 * 64)
    // the bare SQL verb rides the same property-aware entry point
    val r = spark.sql(s"OPTIMIZE txtable.`$dir`").head()
    assert(r.getString(0) == "optimize")
    assert(t.read().count() == 64 * 64)
  }

  test("bloom sidecar storage: filters move out of the log, pruning and " +
      "vacuum lifecycle unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructType => ST}
    val dir = EventsStream.scratchDir("tx_bloom_side") + "/t"
    val t = TxTable(spark, dir)
    t.overwrite((0 until 4000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score").repartition(8))
    t.setProperties(Map(
      TxTable.PropBloomColumns -> "id",
      TxTable.PropBloomStorage -> "sidecar"))
    t.compact(targetFileBytes = 8192)
    val entries = t.fileEntries(t.versions.last)
    assert(entries.forall(_.bloom.isEmpty),
      "sidecar mode must keep filters OUT of the log entries")
    assert(entries.forall(_.bloomSidecar.isDefined))
    assert(entries.map(_.bloomSidecar.get).distinct.size == 1,
      "one sidecar per write batch, shared by its files")
    // pruning works through the sidecar exactly like inline
    val schema = new ST().add("id", LongType).add("score", DoubleType)
    val probe = Seq(EqualTo(
      AttributeReference("id", LongType)(), Literal(2000L)))
    val kept = entries.count(t.candidateFilter(schema, probe))
    assert(kept <= 2, s"sidecar blooms must prune — kept $kept of ${entries.size}")
    assert(t.read().where(col("id") === 2000L).count() == 1)
    // the sidecar survives vacuum while referenced, sweeps with expiry
    val side = s"$dir/${entries.head.bloomSidecar.get}"
    t.vacuum(minAgeMs = 0)
    assert(new java.io.File(side).exists(), "referenced sidecar must survive")
    t.overwrite(Seq((1L, 1.0)).toDF("id", "score"))
    t.expireSnapshots(keepLast = 1)
    t.vacuum(minAgeMs = 0)
    assert(!new java.io.File(side).exists(),
      "expired sidecar must sweep with its entries")
  }

  test("concurrent MoR deletes: disjoint files auto-rebase, same-file " +
      "race conflicts loudly") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_dv_race") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    t.overwrite((0 until 8000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score").repartitionByRange(8, col("id")))
    // disjoint ranges → disjoint files: both threads must land
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = TxTable(spark, dir, deletionVectors = true)
          .deleteWhere(col("id") < 100L)
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = TxTable(spark, dir, deletionVectors = true)
          .deleteWhere(col("id") >= 7900L)
      })
      fa.get(); fb.get()
    } finally pool.shutdown()
    assert(t.versions.length == 3, "both MoR deletes must commit")
    assert(t.read().count() == 7800)
    assert(t.read().agg(min("id")).head.getLong(0) == 100L)
    assert(t.read().agg(max("id")).head.getLong(0) == 7899L)
    // same-file sequential deletes still accumulate (no self-conflict)
    t.deleteWhere(col("id") < 200L)
    assert(t.read().count() == 7700)
  }

  test("purgeDeletes rewrites only files over the deleted-fraction " +
      "threshold; REORG SQL verb; feeds skip the purge") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_purge") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true)
    t.overwrite((0 until 8000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score").repartitionByRange(8, col("id"))) // ~1000 rows/file
    // ~40% of file 0, a handful of rows of the others' neighbors
    t.deleteWhere(col("id") < 400L)
    t.deleteWhere(col("id") % 1000 === 999L) // one row in each file
    val before = t.fileEntries(t.versions.last)
    val vectoredBefore = before.filter(_.dvPath.isDefined)
    assert(vectoredBefore.size >= 2,
      "both deletes should leave vectors on several files")
    assert(before.forall(_.rows > 0), "row counts recorded on write")
    val overThreshold = vectoredBefore.count(f =>
      f.dvRows.toDouble / f.rows >= 0.1)
    assert(overThreshold >= 1, "the 40%-deleted file must cross 10%")
    val v = t.purgeDeletes(minDeletedFraction = 0.1)
    assertSameContents(t, v - 1, v)
    val after = t.fileEntries(v)
    // exactly the over-threshold files rewrote; the rest carried with
    // their vectors intact
    assert(after.count(_.dvPath.isDefined) ==
      vectoredBefore.size - overThreshold)
    assert(after.forall(f => f.dvPath.isEmpty ||
      f.dvRows.toDouble / f.rows < 0.1))
    val carried = after.map(_.path).toSet.intersect(before.map(_.path).toSet)
    assert(carried.size == before.size - overThreshold,
      "under-threshold files carry by reference")
    assert(t.read().count() == 8000 - 400 - 8) // the two deletes are disjoint
    assert(t.read().where(col("id") < 400L).count() == 0)
    assert(t.read().where(col("id") === 1999L).count() == 0)
    // the purge is dataChange=false: an append-consumer feed window
    // across it serves ONLY the append, no reset
    val vA = t.append(Seq((50000L, 1.0)).toDF("id", "score"))
    val changes = t.changesSince(v - 1) // window: purge + append
    assert(changes.count() == 1 && changes.head.getLong(0) == 50000L)
    // SQL REORG verb
    t.deleteWhere(col("id") >= 7500L && col("id") < 8000L)
    val r = spark.sql(s"REORG TABLE txtable.`$dir` APPLY (PURGE)")
    assert(r.head.getString(0) == "reorg")
    assert(t.fileEntries(t.versions.last).forall(f =>
      f.dvPath.isEmpty || f.dvRows.toDouble / math.max(f.rows, 1) < 0.05))
    // 7592 survivors + 1 appended - 499 newly deleted (7999 was gone)
    assert(t.read().count() == 8000 - 400 - 8 + 1 - 499)
    // partitioned input: each touched partition's survivors pack into
    // at most ceil(purged bytes / 128 MB) files, not one per scan split
    val pt = TxTable(spark, EventsStream.scratchDir("tx_purge_part") + "/t",
      deletionVectors = true)
    pt.overwrite((0 until 4000).map(i => (i.toLong, s"g${i % 2}", i * 1.0))
      .toDF("id", "grp", "score").repartitionByRange(8, col("id")),
      partitionBy = Seq("grp"))
    pt.deleteWhere(col("id") % 3 === 0L) // a third of every file
    val pBefore = pt.fileEntries(pt.latestVersion.get)
    assert(pBefore.forall(_.dvPath.isDefined))
    assert(pBefore.count(_.partition("grp") == "g0") > 1,
      "several files per partition, else the bound is vacuous")
    val pv = pt.purgeDeletes(minDeletedFraction = 0.1)
    assertSameContents(pt, pv - 1, pv)
    val pAfter = pt.fileEntries(pv)
    assert(pAfter.forall(_.dvPath.isEmpty))
    pBefore.groupBy(_.partition("grp")).foreach { case (g, purged) =>
      val written = pAfter.count(_.partition("grp") == g)
      val bound = math.ceil(
        purged.map(_.bytes).sum.toDouble / (128L * 1024 * 1024)).toInt
      assert(written >= 1 && written <= bound,
        s"partition $g: $written files for bound $bound")
    }
  }

  test("table properties: metadata-only commits, carried across writes, " +
      "recognized flags bind every handle") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_props") + "/t"
    val t = TxTable(spark, dir) // plain handle: no feature flags
    t.overwrite((0 until 4000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score").repartitionByRange(4, col("id")))
    assert(t.properties.isEmpty)
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
          .toSeq.flatMap(walk)
        else Seq(f.getPath)
      walk(new java.io.File(s"$dir/data")).toSet
    }
    val disk = dataFiles()
    val v1 = t.setProperties(Map(
      TxTable.PropDeletionVectors -> "true", "team" -> "ingest"))
    assert(v1 == 1 && dataFiles() == disk,
      "setProperties must be a metadata-only commit")
    assert(t.properties == Map(
      TxTable.PropDeletionVectors -> "true", "team" -> "ingest"))
    // the property binds THIS plain handle: deleteWhere goes
    // merge-on-read — no data file rewritten
    t.deleteWhere(col("id") < 100L)
    assert(t.read().count() == 3900)
    assert(dataFiles().intersect(disk) == disk,
      "property-driven MoR delete must not rewrite data files")
    // properties carry across ordinary commits and survive cold log
    // reconstruction
    t.append(Seq((9999L, 1.0)).toDF("id", "score"))
    t.invalidateCachedState()
    assert(t.properties("team") == "ingest")
    // unset falls back to handle behavior (copy-on-write again)
    t.unsetProperties(Seq(TxTable.PropDeletionVectors))
    assert(!t.properties.contains(TxTable.PropDeletionVectors))
    t.deleteWhere(col("id") === 9999L)
    assert(t.read().count() == 3900)
    assert(t.history().count(_._2 == "setproperties") == 2)
  }

  test("table properties via SQL: ALTER SET/UNSET TBLPROPERTIES, SHOW, " +
      "and writer options persist flags") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_props_sql") + "/t"
    // writer option persists the property at creation
    (0 until 2000).map(i => (i.toLong, i * 1.0)).toDF("id", "score")
      .repartitionByRange(4, col("id"))
      .write.format("txtable")
      .option("deletionVectors", "true").save(dir)
    val t = TxTable(spark, dir)
    assert(t.properties(TxTable.PropDeletionVectors) == "true")
    // SQL SHOW TBLPROPERTIES
    val shown = spark.sql(s"SHOW TBLPROPERTIES txtable.`$dir`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown(TxTable.PropDeletionVectors) == "true")
    // SQL DELETE through the parser seam (plain handle) honors it
    val before = t.fileEntries(t.versions.last).map(_.path).toSet
    spark.sql(s"DELETE FROM txtable.`$dir` WHERE id < 50")
    assert(t.read().count() == 1950)
    assert(t.fileEntries(t.versions.last).map(_.path).toSet == before,
      "SQL DELETE must ride the deletion-vector path under the property")
    // ALTER UNSET then SET round-trips through SQL
    spark.sql(s"ALTER TABLE txtable.`$dir` UNSET TBLPROPERTIES " +
      s"('${TxTable.PropDeletionVectors}')")
    assert(!TxTable(spark, dir).properties.contains(TxTable.PropDeletionVectors))
    spark.sql(s"ALTER TABLE txtable.`$dir` SET TBLPROPERTIES " +
      s"('data.owner' = 'data-eng')")
    val p = spark.sql(
      s"SHOW TBLPROPERTIES txtable.`$dir` ('data.owner')").collect()
    assert(p.length == 1 && p(0).getString(1) == "data-eng")
  }

  test("deletion-vector delete through a CDF handle captures the rows; " +
      "bucketed merge interop") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_dv_cdf") + "/t"
    val t = TxTable(spark, dir, deletionVectors = true, changeDataFeed = true)
    t.overwriteBucketed((0 until 1000).map(i => (i.toLong, i * 1.0))
      .toDF("id", "score"), Seq("id"), nBuckets = 8)
    val v1 = t.deleteWhere(col("id") < 10L)
    assert(t.read().count() == 990)
    // the feed serves the deleted rows as row-level delete records
    val feed = t.changeFeed(v1 - 1)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "delete").count() == 10)
    assert(feed.where(col(TxTable.ChangeTypeCol) === "delete")
      .agg(max("id")).head.getLong(0) == 9L)
    // a merge into the DV'd bucketed table reads DV-filtered state and
    // purges the vectors of the buckets it rewrites
    t.upsert(Seq((5L, -5.0), (500L, -500.0)).toDF("id", "score"))
    val rows = t.read()
    assert(rows.where(col("id") === 5L).head.getDouble(1) == -5.0,
      "upsert must re-insert a previously DV-deleted key")
    assert(rows.where(col("id") === 500L).head.getDouble(1) == -500.0)
    assert(rows.count() == 991, "990 live + resurrected id=5")
  }

  test("schemaAutoMerge: a widened merge source evolves the schema; strict refuses") {
    import spark.implicits._
    val (t, _) = freshTable("tx_automerge")
    t.overwriteBucketed(
      (0 until 40).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      bucketCols = Seq("id"), nBuckets = 8)
    val widened = Seq((1L, 10.0, "fresh"), (1000L, -1.0, "new"))
      .toDF("id", "v", "tag")
    // strict (default): new source column refuses
    val e = intercept[IllegalArgumentException](t.upsert(widened))
    assert(e.getMessage.toLowerCase.contains("column") ||
      e.getMessage.contains("tag"))
    // property on: the merge widens
    t.setProperties(Map("graft.schemaAutoMerge" -> "true"))
    t.upsert(widened)
    val r = t.read()
    assert(r.columns.contains("tag"))
    assert(r.count() == 41)
    assert(r.where(col("id") === 1L).head().getAs[String]("tag") == "fresh")
    assert(r.where(col("id") === 1000L).head().getAs[String]("tag") == "new")
    // rows in untouched buckets null-backfill the new column
    assert(r.where(col("tag").isNull).count() == 39)
    // and a later subset-source upsert still works (null-fills tag)
    t.upsert(Seq((2L, 22.0)).toDF("id", "v"))
    val r2 = t.read()
    assert(r2.where(col("id") === 2L).head().getAs[Double]("v") == 22.0)
    assert(r2.where(col("id") === 2L).head().getAs[String]("tag") == null)
  }

  test("replaceWhere: atomic partition recompute, untouched files carry, offenders refuse") {
    import spark.implicits._
    val (t, _) = freshTable("tx_replw")
    def part(ids: Range, p: String) =
      ids.map(i => (i.toLong, p, i * 1.0)).toDF("id", "grp", "v")
    t.overwrite(part(0 until 20, "a").unionByName(part(100 until 110, "b")),
      partitionBy = Seq("grp"))
    val bBefore = t.fileEntries(t.latestVersion.get)
      .filter(_.partition.get("grp").contains("b")).map(_.path).toSet
    // recompute a: fresh rows, one commit
    val v = t.replaceWhere(part(500 until 505, "a"), col("grp") === "a")
    val r = t.read()
    assert(r.where(col("grp") === "a").count() == 5)
    assert(r.where(col("grp") === "b").count() == 10)
    assert(t.fileEntries(v).filter(_.partition.get("grp").contains("b"))
      .map(_.path).toSet == bBefore, "out-of-scope partition carries")
    assert(t.history().last._2 == "replace")
    // a source row OUTSIDE the predicate refuses before any commit
    val e = intercept[IllegalArgumentException](
      t.replaceWhere(part(0 until 1, "zzz"), col("grp") === "a"))
    assert(e.getMessage.contains("satisfy"))
    assert(t.latestVersion.get == v, "refusal must not commit")
    // zero existing matches + insert still lands (first write wins)
    val v2 = t.replaceWhere(part(900 until 903, "c"), col("grp") === "c")
    assert(v2 > v && t.read().where(col("grp") === "c").count() == 3)
    // CDF capture: delete images for the replaced rows, inserts for new
    val cdf = graft.core.TxTable(spark, t.location, changeDataFeed = true)
    val v3 = cdf.replaceWhere(part(700 until 702, "c"), col("grp") === "c")
    val changes = cdf.changeFeed(v3 - 1, Some(v3))
    val byType = changes.groupBy("_change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType == Map("delete" -> 3, "insert" -> 2), s"got $byType")
  }

  test("replaceWhere mints identity values for a source that omits the column") {
    import spark.implicits._
    val (t, _) = freshTable("tx_replw_ident")
    t.overwrite(Seq((1L, "b", 1.0)).toDF("id", "grp", "v"))
    t.addIdentityColumn("id", start = 100, step = 1)
    t.append(Seq(("a", 5.0)).toDF("grp", "v"))
    t.replaceWhere(Seq(("a", 9.0)).toDF("grp", "v"), col("grp") === "a")
    assert(t.read().select("v").as[Double].collect().sorted.toSeq == Seq(1.0, 9.0))
    val a = t.read().where(col("grp") === "a").select("id").head
    assert(!a.isNullAt(0), "an omitted identity column must mint, not null-fill")
    assert(a.getLong(0) >= 100L && a.getLong(0) == t.identityColumns("id")._3)
  }

  test("autoCompact property: appends fold their own small-file debt") {
    import spark.implicits._
    val (t, _) = freshTable("tx_autocompact")
    def one(i: Int) = Seq((i.toLong, s"n$i")).toDF("id", "name")
    t.overwrite(one(0))
    // off: debt accumulates one file per append
    (1 to 9).foreach(i => t.append(one(i)))
    assert(t.fileEntries(t.latestVersion.get).size == 10)
    t.setProperties(Map("graft.autoCompact" -> "true"))
    // on: the next append trips the threshold and folds the debt
    t.append(one(10))
    val entries = t.fileEntries(t.latestVersion.get)
    assert(entries.size < 10, s"debt folded, got ${entries.size} files")
    assert(t.history().last._2 == "compact", "auto-compact is its own commit")
    assert(t.read().count() == 11, "no rows lost")
    // below threshold: appends stay append-only
    t.append(one(11))
    assert(t.history().last._2 == "append")
    assert(t.read().count() == 12)
  }

  test("optimizeWrite property: small writes coalesce, never repartition up") {
    import spark.implicits._
    val (t, _) = freshTable("tx_optwrite")
    val wide = spark.range(0, 2000, 1, 32)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    // off: one file per task
    t.overwrite(wide)
    assert(t.fileEntries(t.latestVersion.get).size == 32)
    t.setProperties(Map("graft.optimizeWrite" -> "true"))
    t.overwrite(wide)
    val n = t.fileEntries(t.latestVersion.get).size
    assert(n < 32, s"small write must coalesce, got $n files")
    assert(t.read().count() == 2000)
  }

  test("OPTIMIZE WHERE ... ZORDER BY re-clusters only the scoped partition") {
    import spark.implicits._
    val (t, dir) = freshTable("tx_zorder_where")
    def grid(p: String) = (0 until 400).map { i =>
      (p, (i % 20).toDouble, (i / 20).toDouble, i.toLong)
    }.toDF("grp", "x", "y", "id")
    t.overwrite(grid("a").unionByName(grid("b"))
      .repartitionByRange(8, col("grp"), col("x")), partitionBy = Seq("grp"))
    val bBefore = t.fileEntries(t.latestVersion.get)
      .filter(_.partition.get("grp").contains("b")).map(_.path).toSet
    spark.sql(
      s"OPTIMIZE txtable.`$dir` WHERE grp = 'a' ZORDER BY (x, y)")
    val after = t.fileEntries(t.latestVersion.get)
    assert(after.filter(_.partition.get("grp").contains("b"))
      .map(_.path).toSet == bBefore,
      "out-of-scope partition must carry byte-identically")
    assert(after.exists(f => f.partition.get("grp").contains("a") &&
      !bBefore(f.path)), "scoped partition re-clustered")
    // content identical, schema preserved
    assert(t.read().count() == 800)
    assert(t.read().where(col("grp") === "a").agg(sum("id")).head.getLong(0) ==
      (0 until 400).sum)
    assert(t.read().schema.fieldNames.toSeq ==
      Seq("grp", "x", "y", "id"))
    assert(t.history().last._2 == "compact")
  }

  test("CONVERT: in-place import of a bare parquet dir, zero bytes copied") {
    import spark.implicits._
    val dir = EventsStream.scratchDir("tx_convert")
    (0 until 100).map(i => (i.toLong, s"n$i", i * 2.0))
      .toDF("id", "name", "score").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val originals = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val t = graft.core.TxTable.convert(spark, dir)
    assert(t.latestVersion.contains(0L))
    assert(t.read().count() == 100)
    assert(t.history().last._2 == "convert")
    // zero-copy: the original files serve v0, byte-untouched
    originals.foreach { case (name, mtime) =>
      val f = new java.io.File(dir, name)
      assert(f.exists() && f.lastModified() == mtime, s"$name touched")
    }
    // stats landed: an interior range scan skips files via zone maps
    assert(t.fileEntries(0L).forall(_.min.nonEmpty))
    // the whole transactional surface works from v0 on
    t.append(Seq((200L, "x", 1.0)).toDF("id", "name", "score"))
    assert(t.read().count() == 101)
    assert(t.readVersion(0L).count() == 100, "time travel to the import")
    t.deleteWhere(col("id") === 200L)
    assert(t.read().count() == 100)
    // double-convert refuses
    val e = intercept[IllegalArgumentException](
      graft.core.TxTable.convert(spark, dir))
    assert(e.getMessage.contains("already"))
    // vacuum: originals stay while referenced; after an overwrite +
    // expiry they join the sweep like any dead file
    t.overwrite(Seq((1L, "y", 0.0)).toDF("id", "name", "score"))
    t.expireSnapshots(keepLast = 1)
    val swept = t.vacuum(0)
    assert(originals.keySet.forall(n => swept.exists(_.endsWith(n))),
      "unreferenced converted originals must be vacuumable")
    assert(t.read().count() == 1)
  }
}
