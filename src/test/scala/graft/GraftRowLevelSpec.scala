package graft

import org.apache.spark.sql.functions._

import graft.core.TxTable
import graft.streaming.EventsStream

/** NATIVE V2 row-level operations (`SupportsRowLevelOperations` /
  * `SupportsDelta`): `UPDATE graft.default.t`, `MERGE INTO
  * graft.default.t`, and non-pushable `DELETE` plan through Spark's
  * OWN `WriteDelta` rewrite — no parser seam — and land as one
  * merge-on-read commit: matched rows fold into a deletion vector,
  * replacements/inserts write data files, CDF captures the images. */
class GraftRowLevelSpec extends SparkSpec {

  private def dir(tag: String) = EventsStream.scratchDir(s"rowlevel_$tag") + "/t"

  private def mk(tag: String, n: Int = 100): (String, String) = {
    val d = dir(tag)
    import spark.implicits._
    val df = (0 until n).map(i => (i.toLong, s"name_$i", i % 10)).toDF("k", "name", "grp")
    TxTable(spark, d).overwrite(df)
    val t = s"rl_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t USING txtable LOCATION '$d'")
    (s"graft.default.$t", d)
  }

  test("native UPDATE plans as WriteDelta (no seam) and commits merge-on-read") {
    val (t, d) = mk("upd")
    val explain = spark.sql(
      s"EXPLAIN EXTENDED UPDATE $t SET name = concat(name, '!') WHERE k % 7 = 0")
      .head.getString(0)
    assert(explain.contains("WriteDelta"),
      s"native UPDATE should plan Spark's WriteDelta, got:\n$explain")
    spark.sql(s"UPDATE $t SET name = concat(name, '!') WHERE k % 7 = 0")
    val rows = spark.sql(s"SELECT k, name FROM $t").collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val (k, name) = (r.getLong(0), r.getString(1))
      if (k % 7 == 0) assert(name == s"name_$k!", s"k=$k name=$name")
      else assert(name == s"name_$k", s"k=$k name=$name")
    }
    // merge-on-read: the commit retags affected entries with a DV
    // instead of rewriting them, and history records the native op
    val hist = spark.sql(
      s"SELECT operation FROM $t.history ORDER BY version DESC LIMIT 1")
      .head.getString(0)
    assert(hist == "update", s"history op: $hist")
    val dvRows = spark.sql(s"SELECT sum(dv_rows) FROM $t.files").head.getLong(0)
    assert(dvRows == (0 until 100).count(_ % 7 == 0),
      s"expected DV rows for the matched set, got $dvRows")
  }

  test("native MERGE: update + insert + delete clauses in one commit") {
    val (t, d) = mk("merge", 50)
    import spark.implicits._
    (51 until 60).map(i => (i.toLong, s"src_$i", -1))
      .toDF("k", "name", "grp")
      .union(Seq((10L, "upd_10", -2), (20L, "del_20", -3)).toDF("k", "name", "grp"))
      .createOrReplaceTempView("rl_merge_src")
    val explain = spark.sql(
      s"""EXPLAIN MERGE INTO $t t USING rl_merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.grp = -3 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET name = s.name
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head.getString(0)
    assert(explain.contains("WriteDelta"), s"MERGE should plan WriteDelta:\n$explain")
    spark.sql(
      s"""MERGE INTO $t t USING rl_merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.grp = -3 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET name = s.name
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT k, name FROM $t ORDER BY k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(20L), "matched DELETE clause must remove k=20")
    assert(got(10L) == "upd_10")
    assert(got(30L) == "name_30")
    (51 until 60).foreach(i => assert(got(i.toLong) == s"src_$i"))
    assert(got.size == 50 - 1 + 9)
    val hist = spark.sql(
      s"SELECT operation FROM $t.history ORDER BY version DESC LIMIT 1")
      .head.getString(0)
    assert(hist == "merge", s"history op: $hist")
  }

  test("non-pushable DELETE routes through WriteDelta; pushable stays metadata") {
    val (t, d) = mk("del")
    // `k % 3 = 0` has no V1-filter translation → canDeleteWhere=false
    // → Spark's rewrite keeps the row-level WriteDelta plan
    val explain = spark.sql(s"EXPLAIN DELETE FROM $t WHERE k % 3 = 0")
      .head.getString(0)
    assert(explain.contains("WriteDelta"),
      s"non-pushable DELETE should plan WriteDelta:\n$explain")
    spark.sql(s"DELETE FROM $t WHERE k % 3 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) ==
      (0 until 100).count(_ % 3 != 0))
    // a pushable predicate keeps the metadata-only SupportsDelete path
    val e2 = spark.sql(s"EXPLAIN DELETE FROM $t WHERE k < 10").head.getString(0)
    assert(e2.contains("DeleteFromTable") && !e2.contains("WriteDelta"),
      s"pushable DELETE should stay metadata-only:\n$e2")
    spark.sql(s"DELETE FROM $t WHERE k < 10")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) ==
      (10 until 100).count(_ % 3 != 0))
  }

  test("DELETE with a subquery condition routes through WriteDelta") {
    val (t, d) = mk("subq")
    import spark.implicits._
    Seq(3L, 17L, 42L).toDF("bad_k").createOrReplaceTempView("rl_subq_bad")
    // an IN-subquery can never push as a source filter — previously a
    // hard refusal, now the row-level path
    spark.sql(s"DELETE FROM $t WHERE k IN (SELECT bad_k FROM rl_subq_bad)")
    val ks = spark.sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).toSet
    assert(!ks.contains(3L) && !ks.contains(17L) && !ks.contains(42L))
    assert(ks.size == 97)
  }

  test("native UPDATE on a hive-partitioned table relocates rows across partitions") {
    val d = dir("part")
    import spark.implicits._
    val df = (0 until 60).map(i => (i.toLong, s"v_$i", s"p${i % 3}"))
      .toDF("k", "v", "part")
    TxTable(spark, d).overwrite(df, partitionBy = Seq("part"))
    spark.sql("DROP TABLE IF EXISTS rl_part")
    spark.sql(s"CREATE TABLE rl_part USING txtable LOCATION '$d'")
    spark.sql(
      "UPDATE graft.default.rl_part SET part = 'p9' WHERE k % 10 = 0")
    val got = spark.sql(
      "SELECT k FROM graft.default.rl_part WHERE part = 'p9' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (0 until 60 by 10).map(_.toLong).toSeq, s"got $got")
    // partition pruning still serves the relocated rows: the new
    // files' entries carry the p9 partition value
    val parts = spark.sql(
      "SELECT partition FROM graft.default.rl_part.files").collect()
      .map(_.getString(0))
    assert(parts.exists(_.contains("p9")), s"entries: ${parts.toSeq}")
    assert(spark.sql("SELECT count(*) FROM graft.default.rl_part")
      .head.getLong(0) == 60)
  }

  test("native UPDATE on a bucketed table recomputes the bucket; SPJ read survives") {
    val d = dir("bkt")
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, s"b_$i")).toDF("id", "name")
    TxTable(spark, d).overwriteBucketed(df, Seq("id"), 4)
    spark.sql("DROP TABLE IF EXISTS rl_bkt")
    spark.sql(s"CREATE TABLE rl_bkt USING txtable LOCATION '$d'")
    // bucket-KEY update: rows must land in the bucket of their NEW id
    spark.sql("UPDATE graft.default.rl_bkt SET id = id + 1000 WHERE id < 5")
    val got = spark.sql(
      "SELECT id FROM graft.default.rl_bkt WHERE id >= 1000 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (1000L until 1005L).toSeq, s"got $got")
    assert(spark.sql("SELECT count(*) FROM graft.default.rl_bkt")
      .head.getLong(0) == 200)
    // the rewritten layout still reports bucketing: a self-join on the
    // bucket key must produce correct rows (SPJ or not)
    val j = spark.sql(
      """SELECT a.id FROM graft.default.rl_bkt a
        |JOIN graft.default.rl_bkt b ON a.id = b.id""".stripMargin)
    assert(j.count() == 200)
  }

  test("CDF captures native UPDATE as update_preimage/update_postimage and MERGE inserts as insert") {
    val d = dir("cdf")
    import spark.implicits._
    val t = TxTable(spark, d, changeDataFeed = true)
    t.overwrite((0 until 30).map(i => (i.toLong, i * 10)).toDF("k", "v"))
    spark.sql("DROP TABLE IF EXISTS rl_cdf")
    spark.sql(s"CREATE TABLE rl_cdf USING txtable LOCATION '$d'")
    spark.sql(s"ALTER TABLE graft.default.rl_cdf SET TBLPROPERTIES (" +
      s"'${TxTable.PropChangeDataFeed}'='true')")
    val v0 = TxTable(spark, d).latestVersion.get
    spark.sql("UPDATE graft.default.rl_cdf SET v = v + 1 WHERE k = 7")
    // table_changes(loc, since): EXCLUSIVE start — changes AFTER v0
    val changes = spark.sql(
      s"SELECT k, v, _change_type FROM table_changes('$d', $v0)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(changes == Set((7L, 70, "update_preimage"), (7L, 71, "update_postimage")),
      s"got $changes")
  }

  test("native MERGE with NOT MATCHED BY SOURCE: full clause grammar through WriteDelta") {
    val (t, d) = mk("bysrc", 30)
    import spark.implicits._
    (10 until 20).map(i => (i.toLong, s"src_$i", 0))
      .toDF("k", "name", "grp").createOrReplaceTempView("rl_bysrc_src")
    spark.sql(
      s"""MERGE INTO $t t USING rl_bysrc_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET name = s.name
         |WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET grp = -9""".stripMargin)
    val got = spark.sql(s"SELECT k, name, grp FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(!got.exists(_._1 < 5), "by-source DELETE must remove k<5")
    (10 until 20).foreach(i => assert(got.exists(g =>
      g._1 == i && g._2 == s"src_$i"), s"k=$i not updated"))
    got.filter(g => g._1 >= 5 && g._1 < 10).foreach(g =>
      assert(g._3 == -9, s"by-source UPDATE missed $g"))
    got.filter(_._1 >= 20).foreach(g =>
      assert(g._3 == -9, s"by-source UPDATE missed $g"))
    assert(got.length == 30 - 5)
  }

  test("native UPDATE on a COLUMN-MAPPED table writes physical names; rename is metadata-only") {
    val d = dir("colmap")
    import spark.implicits._
    TxTable(spark, d).overwrite(
      (0 until 40).map(i => (i.toLong, s"x_$i")).toDF("k", "label"))
    spark.sql("DROP TABLE IF EXISTS rl_colmap")
    spark.sql(s"CREATE TABLE rl_colmap USING txtable LOCATION '$d'")
    // rename freezes the physical name; the native write must land
    // files under the PHYSICAL column so old and new files co-read
    spark.sql("ALTER TABLE rl_colmap RENAME COLUMN label TO tag")
    spark.sql("UPDATE graft.default.rl_colmap SET tag = concat(tag, '+') " +
      "WHERE k % 4 = 0")
    val got = spark.sql(
      "SELECT k, tag FROM graft.default.rl_colmap ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == 40)
    got.foreach { case (k, tag) =>
      if (k % 4 == 0) assert(tag == s"x_$k+", s"k=$k tag=$tag")
      else assert(tag == s"x_$k", s"k=$k tag=$tag")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table through alterTable, then writes natively") {
    val d = dir("schevo")
    import spark.implicits._
    TxTable(spark, d).overwrite(
      (0 until 20).map(i => (i.toLong, s"n_$i")).toDF("k", "name"))
    spark.sql("DROP TABLE IF EXISTS rl_schevo")
    spark.sql(s"CREATE TABLE rl_schevo USING txtable LOCATION '$d'")
    Seq((5L, "upd", 1.5), (100L, "new", 2.5)).toDF("k", "name", "score")
      .createOrReplaceTempView("rl_schevo_src")
    // WITHOUT the clause: extra source columns align-drop (standard
    // UPDATE */INSERT * by-name alignment) — the capability alone
    // must not auto-evolve
    spark.sql(
      """MERGE INTO graft.default.rl_schevo t USING rl_schevo_src s
        |ON t.k = s.k AND t.k < 0
        |WHEN NOT MATCHED AND s.k < 0 THEN INSERT *""".stripMargin)
    assert(!spark.table("graft.default.rl_schevo").columns.contains("score"),
      "plain MERGE must not evolve the schema")
    // WITH the clause: Spark's ResolveMergeIntoSchemaEvolution calls
    // the catalog's alterTable(AddColumn) — a column-mapping metadata
    // commit — re-resolves, and the WriteDelta carries the new column
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.default.rl_schevo t
        |USING rl_schevo_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(
      "SELECT k, name, score FROM graft.default.rl_schevo ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.length == 21)
    assert(got.find(_._1 == 5L).get == ((5L, "upd", Some(1.5))))
    assert(got.find(_._1 == 100L).get == ((100L, "new", Some(2.5))))
    // untouched rows: files never rewritten, the new column
    // null-backfills on read
    assert(got.filter(g => g._1 != 5L && g._1 != 100L)
      .forall(_._3.isEmpty))
  }

  test("native ops are vacuum-safe: fragments cleaned at commit, stray files reclaimed, reads intact") {
    val (t, d) = mk("vac")
    spark.sql(s"UPDATE $t SET name = concat(name, '!') WHERE k % 9 = 0")
    spark.sql(s"DELETE FROM $t WHERE k % 13 = 0")
    // DV fragment staging dirs are removed at commit
    val tmp = new java.io.File(s"$d/tmp")
    assert(!tmp.exists() || tmp.listFiles().isEmpty,
      s"dvfrag staging left behind: ${Option(tmp.listFiles()).map(_.toSeq)}")
    // expire history + vacuum with zero retention: everything still
    // referenced by the latest snapshot must survive, and the table
    // reads identically
    val tx = TxTable(spark, d)
    tx.expireSnapshots(keepLast = 1)
    tx.vacuum(minAgeMs = 0L)
    val got = spark.sql(s"SELECT k, name FROM $t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == (0 until 100).count(_ % 13 != 0))
    got.foreach { case (k, name) =>
      if (k % 9 == 0) assert(name == s"name_$k!", s"k=$k")
      else assert(name == s"name_$k", s"k=$k")
    }
  }

  test("native UPDATE enforces CHECK constraints on the replacement rows") {
    val (t, d) = mk("check")
    // constraint DDL is a seam verb (bare-name spelling); the NATIVE
    // update below must still enforce what it declared
    spark.sql("ALTER TABLE rl_check ADD CONSTRAINT grp_range CHECK (grp >= 0)")
    val before = spark.sql(s"SELECT sum(grp) FROM $t").head.getLong(0)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $t SET grp = -5 WHERE k % 11 = 0")
    }
    assert(e.getMessage != null)
    // failed native write must not commit: table unchanged
    assert(spark.sql(s"SELECT sum(grp) FROM $t").head.getLong(0) == before)
  }

  // -- the native commits, driven directly: a write context taken at the
  // base version, then a racing commit, then the task files publish ---

  private def base(tag: String, n: Int): (TxTable, String) = {
    import spark.implicits._
    val d = dir(tag)
    val t = TxTable(spark, d)
    t.overwrite((0 until n).map(i => (i.toLong, s"name_$i", i % 10))
      .toDF("k", "name", "grp").coalesce(1))
    (t, d)
  }

  /** `rows` landed as one task-written data file of `ctx` — what an
    * executor writer commits; returns its root-relative path. */
  private def taskFile(ctx: TxTable.DeltaWriteContext, d: String,
      rows: Seq[(Long, String, Int)], name: String): String = {
    import spark.implicits._
    landAs(d, s"data/w-${ctx.writeId}/$name.parquet",
      rows.toDF("k", "name", "grp"))
  }

  /** A deletion-vector fragment of `ctx` naming (entry path, row). */
  private def fragFile(ctx: TxTable.DeltaWriteContext, d: String,
      ids: Seq[(String, Long)]): String =
    landAs(d, s"tmp/dvfrag-${ctx.writeId}/d-0.parquet",
      spark.createDataFrame(spark.sparkContext.parallelize(
        ids.map { case (p, pos) => org.apache.spark.sql.Row(p, pos) }),
        TxTable.dvFragSchema))

  private def landAs(d: String, rel: String,
      df: org.apache.spark.sql.DataFrame): String = {
    val tmp = EventsStream.scratchDir("rowlevel_task")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(d, rel)
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    rel
  }

  test("native appends rebase over racing appends: every row lands") {
    import spark.implicits._
    val (t, d) = base("race_app", 10)
    val a = t.deltaWriteContext(0)
    val b = t.deltaWriteContext(0)
    TxTable(spark, d).append(Seq((100L, "racer", 1)).toDF("k", "name", "grp"))
    val fa = taskFile(a, d, Seq((200L, "native_a", 2)), "i-a")
    val fb = taskFile(b, d, Seq((300L, "native_b", 3)), "i-b")
    assert(t.commitBatchNative(a, Seq(fa), replaceAll = false) == 2)
    assert(t.commitBatchNative(b, Seq(fb), replaceAll = false) == 3)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ==
      ((0L until 10L) ++ Seq(100L, 200L, 300L)))
  }

  test("a native DELETE after a racing append refuses by name") {
    import spark.implicits._
    val (t, d) = base("race_del", 10)
    val ctx = t.deltaWriteContext(0)
    val target = t.fileEntries(0).head.path
    TxTable(spark, d).append(Seq((100L, "racer", 1)).toDF("k", "name", "grp"))
    val frag = fragFile(ctx, d, Seq((target, 0L)))
    val e = intercept[IllegalArgumentException](
      t.commitDeltaNative(ctx, "delete", Nil, Nil, Seq(frag), Nil))
    assert(e.getMessage.contains("concurrent commit v1") &&
      e.getMessage.contains("rerun"), e.getMessage)
    assert(t.read().count() == 11)
  }

  test("a native insert-only MERGE after a racing merge-on-read delete refuses") {
    val (t, d) = base("race_merge", 10)
    val ctx = t.deltaWriteContext(0)
    // the racer re-tags the one base file the MERGE decided NOT
    // MATCHED against, without the MERGE re-tagging anything itself
    TxTable(spark, d, deletionVectors = true).deleteWhere(col("k") === 3L)
    val f = taskFile(ctx, d, Seq((500L, "inserted", 0)), "i-0")
    val e = intercept[IllegalArgumentException](
      t.commitDeltaNative(ctx, "merge", Seq(f), Nil, Nil, Nil))
    assert(e.getMessage.contains("changed a file read"), e.getMessage)
    assert(t.read().count() == 9)
    assert(t.read().where(col("k") === 500L).count() == 0)
  }

  test("a native append after a racing ADD CONSTRAINT refuses") {
    val (t, d) = base("race_check", 10)
    val ctx = t.deltaWriteContext(0)
    TxTable(spark, d).addCheckConstraint("k_small", "k < 1000")
    val f = taskFile(ctx, d, Seq((5000L, "violator", 0)), "i-0")
    val e = intercept[IllegalArgumentException](
      t.commitBatchNative(ctx, Seq(f), replaceAll = false))
    assert(e.getMessage.contains("changed the write invariants"), e.getMessage)
    assert(t.read().where(col("k") === 5000L).count() == 0)
  }
}
