package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the engine. Spans nest (an iteration
  * span holds its step spans); all spans of one benchmark run share the
  * tracer's run id. Job, task and listener counters stay zero on spans
  * opened while tracing is off. */
final class Span(val id: Int, val name: String, val parent: Int,
    val iteration: Int, val traced: Boolean) {
  var startNs, endNs, startMs, endMs = 0L
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleWriteBytes, spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Counters the listeners add up while the span is open. */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Per-event samples (one streaming progress event per microbatch). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def wallS: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v
  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  /** Span wall not covered by any job of the span: planning, commits and
    * other driver-side work. Job times are epoch milliseconds. */
  def driverS: Double = {
    val clipped = jobIntervals.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    clipped.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    math.max(0.0, wallS - covered / 1e3)
  }
}

/** Records spans around the benchmark's calls into the engine. With
  * tracing on it also attaches a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener and attributes each job (and its stages
  * and tasks) to the span whose thread submitted it, via a local
  * property that Spark copies onto every job. Listener events arrive on
  * the listener bus thread; a traced span drains the bus before it
  * closes, so events that carry no job (query and streaming progress
  * events) land on the span that was open when they were posted. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val SpanProperty = "perfbench.span"
  private var nextId = 1
  private var stack: List[Span] = Nil
  private var tracing = false
  private val byId = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]
  @volatile private var current: Option[Span] = None

  val spans = mutable.ArrayBuffer.empty[Span]
  var iteration = 0
  var unattributedJobs = 0L
  var spillBytes = 0L

  def span[A](name: String)(body: => A): A = {
    val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0),
      iteration, tracing)
    nextId += 1
    synchronized { spans += s; byId(s.id) = s }
    stack = s :: stack
    current = Some(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      if (tracing) ListenerBus.drain(sc)
      stack = stack.tail
      current = stack.headOption
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      ListenerBus.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
    tracing = on
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
      .flatMap(id => byId.get(id.toInt))

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties) match {
        case Some(s) =>
          s.jobs += 1
          jobSpan(e.jobId) = (s, e.time)
          e.stageIds.foreach(stageSpan(_) = s)
        case None => unattributedJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      // a job also runs within every enclosing span
      for ((s, t0) <- jobSpan.remove(e.jobId))
        Iterator.iterate(Option(s))(_.flatMap(p => byId.get(p.parent))).takeWhile(_.isDefined)
          .foreach(_.get.jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stageSpan.get(e.stageInfo.stageId).foreach(_.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      for (s <- stageSpan.get(e.stageId)) {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        current.foreach { s =>
          s.add("queries", 1)
          s.add("candidate_pairs", PlanWalk.pairRows(qe).toDouble)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized { current.foreach(_.add("failed_queries", 1)) }
  }

  private object streamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      current.foreach { s =>
        val p = e.progress
        s.sample("input_rows", p.numInputRows.toDouble)
        p.durationMs.forEach((k, v) => s.sample(s"${k}_s", v / 1e3))
      }
    }
  }
}

/** Reads row counts off the executed (final adaptive) plan. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Rows out of Generate nodes that explode a pair kernel's output (the
    * engine's pair kernels carry "pairs" in their SQL name). */
  def pairRows(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case g: GenerateExec if g.generator.exists(_.prettyName.contains("pairs")) =>
        g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
