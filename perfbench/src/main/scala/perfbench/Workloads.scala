package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ops.Dedup
import graft.steps.{CleanCorpus, GraphPipeline}
import graft.streaming.EventsStream

/** The result of one call into the engine, as the benchmark checks it:
  * warm iterations must reproduce the cold iteration's fingerprint, and
  * the cold iteration's rows (when given) go to the DuckDB oracle. */
final case class OpResult(fingerprint: String, rows: Option[DataFrame] = None)

/** One workload: its calls into the engine, in order. `run` executes the
  * timed part of one iteration and returns, for each operation that
  * completed, how to read its result; the harness reads results after
  * the timing stops. An operation that threw or never ran is absent, and
  * one whose result is inconsistent is recorded in `failures`. `extras`
  * reports per-iteration layer counts, also after the timed part. */
trait Workload {
  def ops: Seq[String]
  /** Oracle gate (in `graft.SparkEntry.oracleSql`) for each checked op. */
  def gates: Map[String, String]
  def inputBytes: Long
  def run(iteration: Int, tr: Tracer, failures: mutable.Map[String, String]): Seq[(String, () => OpResult)]
  def extras(iteration: Int, spans: Seq[Span]): Map[String, Double]
  /** Bytes the iteration left in storage. */
  def writtenBytes(iteration: Int): Long
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String): Workload =
    name match {
      case "etl_ingest" =>
        new Composite(Seq(new GraphEtl(spark, data, work), new TxIngest(spark, data, work)))
      case "corpus_dedup" => new CorpusDedup(spark, data, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** Order-independent fingerprint of collected rows. */
  def fingerprint(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    s"${rows.size}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Order-independent fingerprint computed by Spark, for results too
    * large to collect: row count plus XOR and modular sum of row hashes. */
  def aggFingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L))))
      .collect().head.toSeq.mkString(":")
  }

  def local(spark: SparkSession, rows: Array[Row], like: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), like.schema)

  /** (files, bytes) under `dir`, skipping subdirectories named in `skip`. */
  def usage(dir: File, skip: Set[String] = Set.empty): (Long, Long) =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foldLeft((0L, 0L)) {
      case ((n, b), f) if f.isDirectory =>
        if (skip(f.getName)) (n, b)
        else { val (n2, b2) = usage(f, skip); (n + n2, b + b2) }
      case ((n, b), f) => (n + 1, b + f.length)
    }

  def fileBytes(paths: String*): Long = paths.map { p =>
    val f = new File(p)
    if (f.isDirectory) usage(f)._2 else f.length
  }.sum

  def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete()
  }
}

import Workload._

/** Workloads run one after the other within each iteration. */
final class Composite(parts: Seq[Workload]) extends Workload {
  val ops: Seq[String] = parts.flatMap(_.ops)
  val gates: Map[String, String] = parts.flatMap(_.gates).toMap
  val inputBytes: Long = parts.map(_.inputBytes).sum
  def run(i: Int, tr: Tracer, failures: mutable.Map[String, String]): Seq[(String, () => OpResult)] =
    parts.flatMap(_.run(i, tr, failures))
  def extras(i: Int, spans: Seq[Span]): Map[String, Double] = parts.flatMap(_.extras(i, spans)).toMap
  def writtenBytes(i: Int): Long = parts.map(_.writtenBytes(i)).sum
}

/** The paper's four-asset pipeline, nodes → edges → graph → graph_aggr,
  * run by the engine's PipelineRunner through the ParquetIOManager. The
  * runner runs inside a "pipeline" span and each step inside a span named
  * after it, so the runner's own time is the pipeline span's self time. */
final class GraphEtl(spark: SparkSession, data: String, work: String) extends Workload {
  private val steps = Seq("nodes", "edges", "graph", "graph_aggr")
  val ops: Seq[String] = steps.map("step." + _)
  val gates = Map("step.graph_aggr" -> "g2_graph_aggr")
  val inputBytes: Long = fileBytes(
    Seq("customer", "supplier", "orders", "lineitem").map(t => s"$data/$t.parquet"): _*)

  private def stateDir(i: Int) = s"$work/it$i/graph"

  private final class Spanned(step: PipelineStep, tr: Tracer) extends PipelineStep {
    val name: String = step.name
    override val deps: Seq[String] = step.deps
    def execute(ctx: RunContext): StepResult = tr.span(s"step.$name")(step.execute(ctx))
  }

  def run(i: Int, tr: Tracer, failures: mutable.Map[String, String]): Seq[(String, () => OpResult)] = {
    val paths = PathResolver(ExecutionMode.SmallDevSampleLocal, localStateDir = stateDir(i))
    val ctx = RunContext(spark, ExecutionMode.SmallDevSampleLocal, Engine.Local, None,
      paths, new ParquetIOManager(spark))
    val runner = new PipelineRunner(Seq(
      new GraphPipeline.NodesStep(data), new GraphPipeline.EdgesStep(data),
      new GraphPipeline.GraphStep, new GraphPipeline.GraphAggrStep).map(new Spanned(_, tr)))
    tr.span("pipeline")(runner.run(ctx)).flatMap { r =>
      val op = s"step.${r.step}"
      if (!r.ok) { failures(op) = r.error.getOrElse("failed"); None }
      else if (r.step != "graph_aggr") Some(op -> (() => OpResult(r.result.metadata.toString)))
      else Some(op -> { () =>
        val out = spark.read.parquet(paths.assetPath("graph_aggr"))
        val rows = out.collect()
        OpResult(fingerprint(rows.toSeq), Some(local(spark, rows, out)))
      })
    }
  }

  def writtenBytes(i: Int): Long = usage(new File(stateDir(i)))._2

  def extras(i: Int, spans: Seq[Span]): Map[String, Double] = {
    val stepWall = spans.filter(_.name.startsWith("step.")).map(_.wallS).sum
    val runnerWall = spans.filter(_.name == "pipeline").map(_.wallS).sum
    Map("pipeline.overhead_s" -> (runnerWall - stepWall)) ++ steps.flatMap { s =>
      val (files, bytes) = usage(new File(s"${stateDir(i)}/$s.parquet"))
      Seq(s"io.$s.bytes_written" -> bytes.toDouble, s"io.$s.files_written" -> files.toDouble)
    }
  }
}

/** LLM-corpus cleaning plus near-duplicate detection: the composed
  * CleanCorpus pipeline (its output written through the ParquetIOManager;
  * it runs MinHash-LSH and the cluster rounds inside), exact n-gram Jaccard
  * pairs, and duplicate clusters over those pairs. */
final class CorpusDedup(spark: SparkSession, data: String, work: String) extends Workload {
  val ops = Seq("corpus.clean", "dedup.ngram_pairs", "dedup.clusters")
  val gates = Map("corpus.clean" -> "p1_clean_corpus", "dedup.ngram_pairs" -> "c4_ngram_jaccard",
    "dedup.clusters" -> "c11_dup_clusters")
  val inputBytes: Long = fileBytes(s"$data/documents.parquet")
  private def outDir(i: Int) = s"$work/it$i/corpus"
  private val counts = mutable.Map.empty[Int, () => Map[String, Double]]

  def run(i: Int, tr: Tracer, failures: mutable.Map[String, String]): Seq[(String, () => OpResult)] = {
    val docs = Tables.documents(spark, data)
    val io = new ParquetIOManager(spark)
    val cleanPath = s"${outDir(i)}/clean.parquet"
    val kept = tr.span("corpus.clean")(io.write(CleanCorpus.run(docs), cleanPath).rowCount)
    def collected(op: String)(df: => DataFrame): (DataFrame, Array[Row]) =
      tr.span(op) { val d = df; (d, d.collect()) }
    def result(d: DataFrame, rows: Array[Row]): () => OpResult =
      () => OpResult(fingerprint(rows.toSeq), Some(local(spark, rows, d)))
    val (pairsDf, pairs) = collected("dedup.ngram_pairs")(Dedup.ngramJaccardPairs(docs))
    // c11's oracle takes components of the exact-Jaccard pair graph
    val (clustersDf, clusters) =
      collected("dedup.clusters")(Dedup.dupClusters(local(spark, pairs, pairsDf)))
    counts(i) = () => Map(
      "dedup.pairs_out" -> pairs.length.toDouble,
      "dedup.clusters" -> clusters.map(_.getAs[Any]("cluster_id")).distinct.length.toDouble,
      "dedup.docs_kept" -> kept.toDouble)
    Seq("corpus.clean" -> { () =>
        val clean = spark.read.parquet(cleanPath)
        val rows = clean.collect()
        OpResult(fingerprint(rows.toSeq), Some(local(spark, rows, clean)))
      },
      "dedup.ngram_pairs" -> result(pairsDf, pairs),
      "dedup.clusters" -> result(clustersDf, clusters))
  }

  def writtenBytes(i: Int): Long = usage(new File(outDir(i)))._2

  def extras(i: Int, spans: Seq[Span]): Map[String, Double] = {
    val cand = spans.filter(_.name == "dedup.ngram_pairs")
      .map(_.counters.getOrElse("candidate_pairs", 0.0)).sum
    val c = counts.get(i).map(_()).getOrElse(Map.empty)
    c ++ (if (spans.exists(_.traced)) Map("dedup.candidate_pairs" -> cand,
      "dedup.pair_yield" -> (if (cand > 0) c.getOrElse("dedup.pairs_out", 0.0) / cand else 0.0))
    else Map.empty)
  }
}

/** Writes beside reads on the transactional table: a file stream of
  * events (two files per trigger) upserted microbatch by microbatch into
  * a 16-bucket TxTable, then compaction and the three read paths. The
  * change feed is polled across the compaction, as a downstream consumer
  * polls after maintenance: the feed skips compact commits, so it must
  * read no rows. */
final class TxIngest(spark: SparkSession, data: String, work: String) extends Workload {
  val ops = Seq("tx.upsert_stream", "tx.compact", "tx.read_latest", "tx.read_version",
    "tx.changes")
  val gates = Map("tx.read_latest" -> "s8_upsert_tx")
  val inputBytes: Long = fileBytes(s"$data/events_files")
  private def tableDir(i: Int) = s"$work/it$i/tx"

  def run(i: Int, tr: Tracer, failures: mutable.Map[String, String]): Seq[(String, () => OpResult)] = {
    val out = mutable.LinkedHashMap.empty[String, OpResult]
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$data/events_files")
    tr.span("tx.upsert_stream") {
      EventsStream.runForeachBatchUpsertTx(spark, stream, tableDir(i))
    }
    val t = TxTable(spark, tableDir(i))
    val upserted = t.latestVersion.get
    out("tx.upsert_stream") = OpResult(s"v$upserted")
    val compacted = tr.span("tx.compact")(t.compact())
    out("tx.compact") = OpResult(s"v${compacted - upserted}")
    val latest = tr.span("tx.read_latest")(aggFingerprint(t.read()))
    out("tx.read_latest") = OpResult(latest,
      if (i == 0) Some(t.readVersion(compacted).orderBy("user_id")) else None)
    val travelled = tr.span("tx.read_version")(aggFingerprint(t.readVersion(upserted)))
    if (travelled != latest)
      failures("tx.read_version") = s"version $upserted reads $travelled, latest reads $latest"
    else out("tx.read_version") = OpResult(travelled)
    val changed = tr.span("tx.changes")(t.changesSince(upserted).count())
    if (changed != 0) failures("tx.changes") = s"change feed across a compaction read $changed rows"
    else out("tx.changes") = OpResult("0")
    out.toSeq.map { case (op, r) => op -> (() => r) }
  }

  private def tableUsage(i: Int): ((Long, Long), (Long, Long)) = {
    val root = new File(tableDir(i))
    (usage(new File(root, "data")), usage(root, Set("data", "_ckpt")))
  }

  def writtenBytes(i: Int): Long = {
    val ((_, data), (_, log)) = tableUsage(i)
    data + log
  }

  def extras(i: Int, spans: Seq[Span]): Map[String, Double] = {
    val ((dataFiles, dataBytes), (_, logBytes)) = tableUsage(i)
    val stream = spans.filter(_.name == "tx.upsert_stream")
    def median(key: String): Double =
      Stats.median(stream.flatMap(_.samples.getOrElse(key, Nil)).toSeq)
    val base = Map(
      "tx.versions" -> TxTable(spark, tableDir(i)).versions.size.toDouble,
      "tx.log_bytes" -> logBytes.toDouble,
      "tx.data_files" -> dataFiles.toDouble,
      "tx.data_bytes" -> dataBytes.toDouble)
    if (!stream.exists(_.traced)) base
    else base ++ Map(
      "stream.batches" -> stream.flatMap(_.samples.getOrElse("input_rows", Nil)).count(_ > 0).toDouble,
      "stream.batch_s" -> median("triggerExecution_s"),
      "stream.add_batch_s" -> median("addBatch_s"),
      "stream.wal_commit_s" -> median("walCommit_s"),
      "stream.query_planning_s" -> median("queryPlanning_s"),
      "stream.latest_offset_s" -> median("latestOffset_s"),
      "stream.commit_offsets_s" -> median("commitOffsets_s"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
