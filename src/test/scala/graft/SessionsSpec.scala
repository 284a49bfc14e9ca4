package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.metrics.source.CodegenMetrics

import graft.core.{ParquetIOManager, TxTable}
import graft.streaming.EventsStream

/** What `Sessions.builder` configures, seen from the work it runs:
  * local file IO starts no shell processes, and the codegen cache
  * keeps a working set larger than Spark's default 100 entries. */
class SessionsSpec extends SparkSpec {

  test("no Hadoop Shell process across an IOManager write, a TxTable overwrite-merge-compact and a 2-batch upsert stream") {
    import spark.implicits._
    val root = EventsStream.scratchDir("nofork")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      new ParquetIOManager(spark).write(spark.range(1000).toDF("id"), s"$root/io")
      val t = TxTable(spark, s"$root/t")
      t.overwriteBucketed((0 until 100).map(i => (i.toLong, i * 1.0)).toDF("id", "score"),
        Seq("id"), nBuckets = 4)
      t.merge(Seq((7L, -1.0)).toDF("id", "score")) { (existing, src) =>
        existing.join(src.select("id").distinct(), Seq("id"), "left_anti").unionByName(src)
      }
      t.compact()
      (0 until 400).map(i => (i.toLong, new java.sql.Timestamp(i * 1000L), i % 37L, i * 0.5))
        .toDF("event_id", "ts", "user_id", "value")
        .repartition(4).write.parquet(s"$root/files")
      val stream = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 2)
        .parquet(s"$root/files")
      assert(EventsStream.runForeachBatchUpsertTx(spark, stream, s"$root/up").count() == 37)
      assert(TxTable(spark, s"$root/up").versions == Seq(0L, 1L))
      // the control: a process started here must be recorded
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val dump = Files.createTempFile("nofork", ".jfr")
    try {
      rec.dump(dump)
      val starts = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      val shell = starts.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
      assert(starts.exists(_.getString("command") == "true"), "ProcessStart was not recorded")
      assert(shell.isEmpty, shell.map(_.getString("command")).mkString("\n"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("the codegen cache keeps more than 100 distinct queries: re-running the first compiles nothing") {
    def query(i: Int): Unit =
      spark.range(4).selectExpr(s"id * ${i + 1000} + ${7 * i} AS x").collect()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val start = compiles.getCount
    (0 to 110).foreach(query)
    val afterDistinct = compiles.getCount
    assert(afterDistinct - start > 100, s"only ${afterDistinct - start} compiles: queries not distinct")
    query(0)
    assert(compiles.getCount == afterDistinct, "the first query's generated class was evicted")
  }
}
