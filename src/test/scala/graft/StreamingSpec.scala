package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.core.Tables
import graft.streaming.EventsStream

/** Structured Streaming: stream(availableNow) ≡ batch on the fixture,
  * plus stateful sessionization semantics. */
class StreamingSpec extends SparkSpec {

  test("streaming hourly rollup == batch q20 on fixture") {
    val streamed = EventsStream.runAvailableNow(
      spark,
      EventsStream.hourlyRollup(EventsStream.readEventsStream(spark, sf)),
      "rollup_test", OutputMode.Complete())
    val batch = graft.ops.Relational.q20TimeBucket(spark, sf)
    val a = streamed.select("window_start", "n_events", "sum_value")
    assert(a.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(a).count() == 0)
    assert(batch.count() > 0)
  }

  test("stream dedup: replayed stream collapses to exactly the batch events") {
    val doubled = EventsStream.readEventsStream(spark, sf)
      .unionAll(EventsStream.readEventsStream(spark, sf))
    val deduped = EventsStream.runAvailableNow(spark,
      EventsStream.dedupStream(doubled), "dedup_test", OutputMode.Append())
    val batch = Tables.events(spark, sf)
    assert(deduped.count() == batch.count())
    assert(deduped.select("event_id").exceptAll(
      batch.select("event_id")).count() == 0)
  }

  test("state-size guard: a memory-backed drain whose key space passes " +
      "the documented bound REFUSES by name (round 16)") {
    // plant an oversized key space by shrinking the bound to 1 row per
    // partition: the dedup stream keys on every event, so the fixture
    // drain blows through it — the guard must name the bound and the
    // RocksDB escape instead of letting a real deployment's next batch
    // OOM. With the bound back at its default the same drain passes
    // (the existing dedup test above).
    spark.conf.set("spark.graft.maxStateRowsPerPartition", "1")
    try {
      val ex = intercept[IllegalStateException] {
        EventsStream.runAvailableNow(spark,
          EventsStream.dedupStream(EventsStream.readEventsStream(spark, sf)),
          "guard_refusal_test", OutputMode.Append())
      }
      assert(ex.getMessage.contains("state-size guard"), ex.getMessage)
      assert(ex.getMessage.contains("rocksdb"), ex.getMessage)
    } finally spark.conf.unset("spark.graft.maxStateRowsPerPartition")
  }

  test("stream-stream LEFT OUTER join == batch left interval join " +
      "(null rows emitted at watermark close)") {
    val dir = EventsStream.scratchDir("stream_ljoin_spec")
    val src = EventsStream.stageEventsWithSentinel(spark, sf, dir + "/src")
    val schema = spark.read.parquet(src).schema
    def ev() = spark.readStream.schema(schema).parquet(src)
    val joined = EventsStream.purchaseClickLeftJoin(
      ev().where(col("event_type") === "purchase"),
      ev().where(col("event_type") === "click"))
    val streamed = EventsStream
      .runAvailableNowToParquet(spark, joined, dir)
      .where(col("user_id") =!= EventsStream.SentinelUser)
    val e = Tables.events(spark, sf)
    val p = e.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = e.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 60 MINUTES") &&
        col("c_ts") <= col("p_ts"), "left_outer")
      .select("purchase_id", "click_id", "user_id")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    // the outer part is real: unmatched purchases carry null clicks
    assert(streamed.where(col("click_id").isNull).count() > 0)
  }

  test("sessionization: per-user sessions respect the gap, sums preserved") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[EventsStream.Event]
    // batch-mode check of the same merge logic: use a tiny crafted set
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val crafted = Seq(
      EventsStream.Event(1, at(0), 7, "click", 1.0),
      EventsStream.Event(2, at(10), 7, "click", 2.0),   // same session (gap 30)
      EventsStream.Event(3, at(60), 7, "view", 4.0),    // new session
      EventsStream.Event(4, at(5), 8, "click", 8.0)).toDS()
    // run through the streaming path via an in-memory stream:
    // availableNow over a parquet tmp dir keeps it on the same code path
    val dir = EventsStream.scratchDir("sess")
    crafted.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val streamIn = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(s"$dir/events.parquet").as[EventsStream.Event]
    val out = EventsStream.runAvailableNow(spark,
      EventsStream.sessionize(streamIn, gapMinutes = 30).toDF(),
      "sessions_crafted")
    // only sessions the watermark closed are emitted: user 7's first
    // session (out-gapped by event 3). The open sessions stay in state.
    val rows = out.collect()
    assert(rows.length == 1)
    val s = rows(0)
    assert(s.getAs[Long]("user_id") == 7)
    assert(s.getAs[Long]("n_events") == 2)
    assert(s.getAs[Double]("sum_value") == 3.0)
    assert(events.count() > 0) // fixture loads through the Event encoder
  }

  test("transformWithState sessionization emits the same sessions as v1") {
    import spark.implicits._
    // same crafted set as the v1 spec: the v2 processor (explicit
    // ValueState + event-time timers) must close exactly the same
    // session at the same watermark
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val crafted = Seq(
      EventsStream.Event(1, at(0), 7, "click", 1.0),
      EventsStream.Event(2, at(10), 7, "click", 2.0),
      EventsStream.Event(3, at(60), 7, "view", 4.0),
      EventsStream.Event(4, at(5), 8, "click", 8.0)).toDS()
    val dir = EventsStream.scratchDir("sess_tws")
    crafted.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val streamIn = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .parquet(s"$dir/events.parquet").as[EventsStream.Event]
    val out = EventsStream.runAvailableNow(spark,
      EventsStream.sessionizeTws(streamIn, gapMinutes = 30).toDF(),
      "sessions_tws_crafted")
    val rows = out.collect()
    assert(rows.length == 1, rows.toSeq)
    val s = rows(0)
    assert(s.getAs[Long]("user_id") == 7)
    assert(s.getAs[Long]("n_events") == 2)
    assert(s.getAs[Double]("sum_value") == 3.0)
  }

  test("parquet sink restart with the same checkpoint is idempotent") {
    import org.apache.spark.sql.streaming.Trigger
    // the exactly-once file-sink contract: re-running availableNow
    // against an unchanged source and the SAME checkpoint must add
    // nothing (offsets already committed) — the restart story a
    // production stream relies on after a driver crash
    val dir = EventsStream.scratchDir("restart")
    def runOnce(): Long = {
      val q = EventsStream.hourlyRollup(
          EventsStream.readEventsStream(spark, sf))
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$dir/out").count()
    }
    val first = runOnce()
    val second = runOnce()
    assert(second == first,
      s"restart duplicated rows: $first -> $second")
  }

  test("foreachBatch upsert over many microbatches == batch-global latest") {
    import org.apache.spark.sql.expressions.Window
    val src = EventsStream.scratchDir("upsert_src")
    val work = EventsStream.scratchDir("upsert_work")
    Tables.events(spark, sf).select("event_id", "ts", "user_id", "value")
      .repartition(8).write.mode("overwrite").parquet(s"$src/files")
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2) // 8 files → 4 merge rounds
      .parquet(s"$src/files")
    val upserted = EventsStream.runForeachBatchUpsert(spark, stream, work)
    // the incremental merge must be non-vacuous: >1 state version
    val versions = new java.io.File(work).listFiles()
      .count(_.getName.startsWith("state_"))
    assert(versions > 1, s"expected multiple microbatches, got $versions")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val batchLatest = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("value").as("last_value"))
    assert(upserted.exceptAll(batchLatest).count() == 0)
    assert(batchLatest.exceptAll(upserted).count() == 0)
    assert(upserted.count() == Tables.events(spark, sf)
      .select("user_id").distinct().count())
  }

  test("TxTable upsert: one commit per microbatch, history time-travels") {
    import org.apache.spark.sql.expressions.Window
    val src = EventsStream.scratchDir("upsert_tx_src")
    val tableDir = EventsStream.scratchDir("upsert_tx_tbl") + "/t"
    Tables.events(spark, sf).select("event_id", "ts", "user_id", "value")
      .repartition(8).write.mode("overwrite").parquet(s"$src/files")
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2) // 8 files → 4 commits
      .parquet(s"$src/files")
    val upserted = EventsStream.runForeachBatchUpsertTx(spark, stream, tableDir)
    val t = graft.core.TxTable(spark, tableDir)
    assert(t.versions == Seq(0L, 1L, 2L, 3L),
      "each microbatch must commit exactly one snapshot")
    // the snapshot history is the batch lineage: key counts only grow
    val counts = t.versions.map(v => t.readVersion(v).count())
    assert(counts == counts.sorted, s"non-monotone history: $counts")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val batchLatest = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("value").as("last_value"))
    assert(upserted.exceptAll(batchLatest).count() == 0)
    assert(batchLatest.exceptAll(upserted).count() == 0)
  }

  test("TxTable upsert is exactly-once: crash-after-commit replay adds zero versions") {
    val src = EventsStream.scratchDir("upsert_tx_replay_src")
    val tableDir = EventsStream.scratchDir("upsert_tx_replay_tbl") + "/t"
    Tables.events(spark, sf).select("event_id", "ts", "user_id", "value")
      .repartition(8).write.mode("overwrite").parquet(s"$src/files")
    def streamIn() = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$src/files")
    val first = EventsStream.runForeachBatchUpsertTx(spark, streamIn(), tableDir)
      .collect().toSet
    val t = graft.core.TxTable(spark, tableDir)
    val committed = t.versions
    // crash AFTER the table commit but BEFORE the checkpoint commit:
    // drop the newest checkpoint commit marker so the restarted query
    // replays the final microbatch with the SAME batchId
    val commits = new java.io.File(s"$tableDir/_ckpt/commits")
      .listFiles().filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2)
    assert(commits.last.delete())
    // the local FS keeps a checksum shadow; a stale one fails the
    // replayed commit's rename
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc").delete()
    val replayed = EventsStream.runForeachBatchUpsertTx(spark, streamIn(), tableDir)
      .collect().toSet
    assert(t.versions == committed,
      s"replayed batch committed again: ${t.versions} vs $committed")
    assert(replayed == first, "replay changed the table contents")
    // and the txn tag records the final batch
    assert(t.lastTxn(EventsStream.UpsertAppId).contains(committed.length - 1L))
  }

  test("TxTable upsert refuses a checkpoint reset instead of silently dropping batches") {
    import spark.implicits._
    val tableDir = EventsStream.scratchDir("upsert_tx_reset") + "/t"
    val t = graft.core.TxTable(spark, tableDir, statsOnWrite = false)
    def batch(id: Long, v: Double) =
      Seq((id, new java.sql.Timestamp(1000L * id), id, v))
        .toDF("event_id", "ts", "user_id", "value")
    EventsStream.upsertBatchTx(t, batch(1, 1.0), batchId = 0, nBuckets = 4)
    EventsStream.upsertBatchTx(t, batch(2, 2.0), batchId = 1, nBuckets = 4)
    val versions = t.versions
    // replay of the LAST batch no-ops (exactly-once)
    EventsStream.upsertBatchTx(t, batch(2, 999.0), batchId = 1, nBuckets = 4)
    assert(t.versions == versions)
    // a fresh checkpoint restarting at 0 against the live table must
    // FAIL, not silently discard the new stream's first batches
    val e = intercept[IllegalArgumentException](
      EventsStream.upsertBatchTx(t, batch(3, 3.0), batchId = 0, nBuckets = 4))
    assert(e.getMessage.contains("checkpoint reset"))
    assert(t.versions == versions)
    // the same rule through the format("txtable") streaming sink: two
    // batches under one checkpoint, then a fresh checkpoint's batch 0
    val src = EventsStream.scratchDir("sink_tx_reset_src")
    (0 until 4).foreach(i => batch(i.toLong, i.toDouble).coalesce(1)
      .write.mode("append").parquet(s"$src/files"))
    val sinkDir = EventsStream.scratchDir("sink_tx_reset") + "/t"
    def sinkRun(ckpt: String): Unit = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$src/files")
      .writeStream.format("txtable")
      .option("path", sinkDir)
      .option("checkpointLocation", EventsStream.scratchDir(ckpt))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    sinkRun("sink_tx_reset_ckpt")
    val sinkTable = graft.core.TxTable(spark, sinkDir)
    val sinkVersions = sinkTable.versions
    assert(sinkVersions.size == 2, s"two batches, got $sinkVersions")
    val reset = intercept[Exception](sinkRun("sink_tx_reset_ckpt2"))
    assert(Iterator.iterate[Throwable](reset)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("checkpoint reset")), reset)
    assert(sinkTable.versions == sinkVersions)
  }

  test("foreachBatch upsert survives a driver restart: disk-recovered state") {
    // restart semantics: the first process drains HALF the source and
    // dies (simulated by a fresh runForeachBatchUpsert invocation —
    // all in-memory pointers gone); new files then arrive and the
    // second process resumes from the SAME checkpoint. Its batches
    // must merge against the first run's last committed state_<k> on
    // disk — with a memory-held pointer the resumed batches would
    // merge against nothing and silently drop every pre-crash key
    // (round-3 ADVICE medium).
    import org.apache.spark.sql.expressions.Window
    val src = EventsStream.scratchDir("upsert_restart_src")
    val work = EventsStream.scratchDir("upsert_restart_work")
    val ev = Tables.events(spark, sf).select("event_id", "ts", "user_id", "value")
    def streamIn() = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$src/files")
    ev.where(col("event_id") % 2 === 0)
      .repartition(4).write.mode("append").parquet(s"$src/files")
    EventsStream.runForeachBatchUpsert(spark, streamIn(), work)
    // "crash", then late files arrive; a fresh invocation = restarted driver
    ev.where(col("event_id") % 2 === 1)
      .repartition(4).write.mode("append").parquet(s"$src/files")
    val resumed = EventsStream.runForeachBatchUpsert(spark, streamIn(), work)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val batchLatest = ev
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), col("value").as("last_value"))
    assert(resumed.exceptAll(batchLatest).count() == 0)
    assert(batchLatest.exceptAll(resumed).count() == 0)
  }

  test("streaming dropDuplicates state is UNBOUNDED (the s16 hazard, " +
      "measured): the state store holds every key ever seen and grows " +
      "across drains") {
    import org.apache.spark.sql.functions._
    val dir = graft.streaming.EventsStream.scratchDir("s16_unb_spec") + "/t"
    val out = graft.streaming.EventsStream.scratchDir("s16_unb_spec_out")
    val e = graft.core.Tables.events(spark, sf)
      .select("event_id", "event_type", "value")
    val t = graft.core.TxTable(spark, dir)
    def drain(): Long = {
      val q = spark.readStream
        .format(classOf[graft.sources.TxTableSourceProvider].getName)
        .load(dir)
        .dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", s"$out/rows")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    t.overwrite(e.where(col("event_id") % 3 <= 1))
    val state1 = drain()
    val keys1 = e.where(col("event_id") % 3 <= 1).count()
    assert(state1 == keys1,
      s"state rows after drain 1 = $state1, keys seen = $keys1")
    // drain 2 redelivers the %3==1 slice and adds the %3==2 one: the
    // dedup output stays exact, but the state store now holds EVERY
    // key ever seen — state ∝ history, the scale-killer contract this
    // spec pins so the s16 gate's table-anti-join spelling (state ∝
    // sink, zero store rows) has its measured contrast
    t.append(e.where(col("event_id") % 3 >= 1))
    val state2 = drain()
    assert(state2 == e.count(),
      s"state rows after drain 2 = $state2, total keys = ${e.count()}")
    val rows = spark.read.parquet(s"$out/rows")
    assert(rows.count() == e.count(), "each id exactly once overall")
    assert(rows.groupBy("event_id").count().where(col("count") > 1).count() == 0)
  }

  test("dedup-on-ingest via sink-table anti-join: exactly one copy per " +
      "key across drains, ZERO streaming state rows, replayed batch " +
      "no-ops (exactly-once by txn tag)") {
    import org.apache.spark.sql.functions._
    val dir = graft.streaming.EventsStream.scratchDir("s16_tx_spec") + "/t"
    val sink = graft.streaming.EventsStream.scratchDir("s16_tx_sink") + "/s"
    val e = graft.core.Tables.events(spark, sf)
      .select("event_id", "event_type", "value")
    val src = graft.core.TxTable(spark, dir)
    val t = graft.core.TxTable(spark, sink, statsOnWrite = false)
    def drain(): Long = {
      val q = spark.readStream
        .format(classOf[graft.sources.TxTableSourceProvider].getName)
        .load(dir)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            EventsStream.dedupIngestBatchTx(t, batch, batchId, nBuckets = 16)
        }
        .option("checkpointLocation", s"$sink/_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    src.overwrite(e.where(col("event_id") % 3 <= 1))
    assert(drain() == 0L, "dedup-on-ingest must hold NO streaming state")
    src.append(e.where(col("event_id") % 3 >= 1)) // %3==1 redelivered
    assert(drain() == 0L)
    val rows = t.read()
    assert(rows.count() == e.count(), "each id exactly once overall")
    assert(rows.groupBy("event_id").count().where(col("count") > 1).count() == 0)
    assert(rows.select("event_id", "event_type", "value")
      .exceptAll(e).count() == 0)
    // exactly-once: replaying the last committed batch adds no version
    // and no rows (crash-after-commit recovery)
    val vBefore = t.latestVersion.get
    val lastBatch = t.lastTxn(EventsStream.DedupIngestAppId).get
    EventsStream.dedupIngestBatchTx(t,
      e.where(col("event_id") % 3 >= 1), lastBatch, nBuckets = 16)
    assert(t.latestVersion.get == vBefore, "replayed batch must no-op")
    assert(t.read().count() == e.count())
  }

  test("dedup-ingest sink buckets size from the corpus (srpAutoSize " +
      "discipline); half-specified calls refuse; rebucket migration " +
      "keeps rows AND the exactly-once anchor") {
    import org.apache.spark.sql.functions._
    // sizing: buckets ∝ keys × rowBytes ÷ target, clamped to [1, 2^20]
    assert(EventsStream.dedupIngestBuckets(1000L) == 1)
    assert(EventsStream.dedupIngestBuckets(
      100L * 1000 * 1000 * 1000, avgRowBytes = 64) ==
      math.ceil(100e9 * 64 / (128L << 20).toDouble).toInt,
      "100G keys at 64 B → ~47.7k buckets of ~128 MB")
    assert(EventsStream.dedupIngestBuckets(Long.MaxValue / 128) == (1 << 20),
      "absurd corpus clamps instead of overflowing")
    intercept[IllegalArgumentException] {
      EventsStream.dedupIngestBuckets(0L)
    }
    // specifying BOTH an explicit count and an expected corpus refuses
    val e = graft.core.Tables.events(spark, sf)
      .select("event_id", "event_type", "value")
    val both = intercept[IllegalArgumentException] {
      EventsStream.runDedupIngestTx(spark, e, "/tmp/never-used",
        nBuckets = Some(4), expectedKeys = Some(1000L))
    }
    assert(both.getMessage.contains("not both"), both.getMessage)
    // rebucket migration: same rows, new layout, anchor preserved —
    // the suspended stream resumes without replaying or dropping
    val sink = graft.streaming.EventsStream.scratchDir("s16_rebucket") + "/s"
    val t = graft.core.TxTable(spark, sink, statsOnWrite = false)
    EventsStream.dedupIngestBatchTx(t,
      e.where(col("event_id") % 2 === 0), batchId = 0L, nBuckets = 2)
    EventsStream.dedupIngestBatchTx(t,
      e.where(col("event_id") % 4 <= 1), batchId = 1L, nBuckets = 2)
    val before = t.read().select("event_id", "event_type", "value")
    val beforeRows = before.collect().toSet
    val anchor = t.lastTxn(EventsStream.DedupIngestAppId)
    EventsStream.rebucketDedupIngest(spark, sink, newBuckets = 8)
    val t2 = graft.core.TxTable(spark, sink, statsOnWrite = false)
    assert(t2.read().select("event_id", "event_type", "value")
      .collect().toSet == beforeRows, "rebucket must not change rows")
    assert(t2.lastTxn(EventsStream.DedupIngestAppId) == anchor,
      "the exactly-once anchor must ride the rewrite")
    // the next batch proceeds; replaying the last one still no-ops
    val vAfter = t2.latestVersion.get
    EventsStream.dedupIngestBatchTx(t2,
      e.where(col("event_id") % 4 <= 1), anchor.get, nBuckets = 8)
    assert(t2.latestVersion.get == vAfter, "replay after rebucket no-ops")
    EventsStream.dedupIngestBatchTx(t2,
      e.where(col("event_id") % 4 === 3), anchor.get + 1, nBuckets = 8)
    assert(t2.read().groupBy("event_id").count()
      .where(col("count") > 1).count() == 0, "still exactly one per key")
    // a non-dedup-sink refuses the migration by name
    val plain = graft.streaming.EventsStream.scratchDir("s16_plain") + "/p"
    graft.core.TxTable(spark, plain).overwrite(e.limit(10))
    val refuse = intercept[RuntimeException] {
      EventsStream.rebucketDedupIngest(spark, plain, 4)
    }
    assert(refuse.getMessage.contains("dedup-ingest"), refuse.getMessage)
  }
}
