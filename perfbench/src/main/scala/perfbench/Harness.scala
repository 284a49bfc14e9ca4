package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Entry point of the benchmark JVM: creates the session and runs a first
  * query (set-up), then runs one workload, a cold iteration and warm
  * iterations for --seconds, and writes every timing, span and check to
  * --out. --launch-ns is the wall clock (epoch ns) at which the caller
  * started this JVM, so set-up time covers JVM start-up too. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val t0 = System.nanoTime()
    val spark = Sessions.local()
    val t1 = System.nanoTime()
    // touches the SQL extensions and the txtable catalog the session registers
    spark.sql("SHOW TABLES IN graft").collect()
    spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    val now = java.time.Instant.now()
    val setup = Map(
      "setup_s" -> ((now.getEpochSecond * 1000000000L + now.getNano) -
        opts("launch-ns").toLong) / 1e9,
      "session.create_s" -> (t1 - t0) / 1e9,
      "session.first_query_s" -> (t2 - t1) / 1e9)
    try {
      val out = new Harness(spark, opts).run()
      Files.write(new File(opts("out")).toPath,
        Json(out + ("setup" -> setup)).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

final class Harness(spark: SparkSession, opts: Map[String, String]) {
  private val work = opts("work")
  private val seconds = opts("seconds").toDouble
  private val trace = opts("trace") == "1"
  private val tracer = new Tracer(spark, opts("run-id"))
  private val wl = Workload(opts("workload"), spark, opts("data"), work)
  private val reference = mutable.Map.empty[String, String]
  private val opCounts = mutable.LinkedHashMap(wl.ops.map(_ -> Array(0, 0)): _*)
  private val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Heap still occupied after a full collection, in MB. The pause lets
    * Spark's ContextCleaner release what the first collection freed. */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def run(): Map[String, Any] = {
    iteration(0, traced = trace)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // A traced run traces every second warm iteration (U T U ...), so the
    // untraced iterations around a traced one bracket its warm-up drift.
    val minWarm = if (trace) 3 else 2
    var i = 1
    while (i <= minWarm || System.nanoTime() < deadline) {
      iteration(i, traced = trace && i % 2 == 0)
      i += 1
    }
    tracer.setTracing(false)
    Map(
      "workload" -> opts("workload"),
      "run_id" -> tracer.runId,
      "input_bytes" -> wl.inputBytes,
      "iterations" -> iterations,
      "heap_retained_mb" -> retainedHeapMb(),
      "ops" -> opCounts.map { case (op, Array(a, f)) =>
        op -> Map("attempted" -> a, "failed" -> f, "gate" -> wl.gates.get(op)) },
      "unattributed_jobs" -> tracer.unattributedJobs,
      "spill_bytes" -> tracer.spillBytes,
      "spans" -> tracer.spans.map(spanRecord))
  }

  private def iteration(i: Int, traced: Boolean): Unit = {
    tracer.setTracing(traced)
    System.gc() // each iteration starts without the previous one's garbage
    tracer.iteration = i
    val failures = mutable.LinkedHashMap.empty[String, String]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val results =
      try tracer.span("iteration")(wl.run(i, tracer, failures))
      catch { case e: Exception => failures("iteration") = e.toString; Nil }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val got = tracer.span("harness.check") {
      results.flatMap { case (op, read) =>
        try Some(op -> read())
        catch { case e: Exception => failures(op) = e.toString; None }
      }.toMap
    }
    for (op <- wl.ops) {
      val ok = got.get(op) match {
        case Some(r) if i == 0 =>
          reference(op) = r.fingerprint
          for (gate <- wl.gates.get(op); rows <- r.rows) tracer.span("harness.check") {
            rows.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$gate")
          }
          true
        case Some(r) if reference.get(op).contains(r.fingerprint) => true
        case Some(r) =>
          failures(op) = s"result ${r.fingerprint} differs from the cold iteration's " +
            reference.getOrElse(op, "(none)")
          false
        case None =>
          failures.getOrElseUpdate(op, "did not complete")
          false
      }
      val c = opCounts(op)
      c(0) += 1
      if (!ok) c(1) += 1
    }
    if (i == 0) writeOracleSql()
    val spans = tracer.spans.filter(_.iteration == i).toSeq
    val extras = tracer.span("harness.check")(wl.extras(i, spans))
    iterations += Map(
      "iteration" -> i, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
      "written_bytes" -> wl.writtenBytes(i),
      "extras" -> extras,
      "failures" -> failures)
    Workload.rm(new File(s"$work/it$i"))
  }

  private def writeOracleSql(): Unit = {
    val sql = wl.gates.values.map(g => g -> graft.SparkEntry.oracleSql(g)).toMap
    new File(s"$work/check").mkdirs()
    Files.write(new File(s"$work/check/oracle_sql.json").toPath,
      Json(sql).getBytes(StandardCharsets.UTF_8))
  }

  private def spanRecord(s: Span): Map[String, Any] = {
    val childWall = tracer.spans.filter(_.parent == s.id).map(_.wallS).sum
    Map(
      "run_id" -> tracer.runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "iteration" -> s.iteration, "traced" -> s.traced,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> s.wallS, "self_s" -> (s.wallS - childWall),
      "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "cpu_s" -> s.cpuNs / 1e9, "executor_run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
      "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
      "driver_s" -> (if (s.traced) s.driverS else 0.0),
      "counters" -> s.counters, "samples" -> s.samples)
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => mapper.writeValueAsString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => mapper.writeValueAsString(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => mapper.writeValueAsString(other.toString)
  }
}
