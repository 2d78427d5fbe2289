package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark counts, recorded from outside the engine.
  *
  * Spans wrap the harness's calls into each layer (name, start, end,
  * parent, run id). Untraced runs record only the operation spans the
  * end-to-end metrics need and register no listener. Traced runs also
  * record the layer spans, tag every Spark job with the innermost open
  * span (a thread-local job property) and register a `SparkListener`, a
  * `QueryExecutionListener` and a `StreamingQueryListener`. Everything is
  * kept in memory and written once, at the end of the run.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  /** Epoch nanoseconds on the monotonic clock (comparable to Spark's
    * millisecond task timestamps).
    */
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[SpanRec]()
  private val listener = new Listener
  private val qeListener = new QeListener
  private val streamListener = new StreamListener
  @volatile private var spark: SparkSession = _

  def newId(): Int = ids.incrementAndGet()

  def record(s: SpanRec): Unit = spans.synchronized { spans += s }

  /** An operation span: always recorded, since the end-to-end metrics are
    * computed from operation spans. Returns the body's value.
    */
  def op[T](name: String, parent: Int, run: String)(body: Int => T): T =
    timed(name, parent, run, always = true)(body)

  /** A layer span: recorded only in a traced run. */
  def span[T](name: String, parent: Int, run: String)(body: Int => T): T =
    timed(name, parent, run, always = false)(body)

  private def timed[T](name: String, parent: Int, run: String,
                       always: Boolean)(body: Int => T): T = {
    val id = newId()
    val sc = if (enabled && spark != null) spark.sparkContext else null
    val outer = if (sc != null) sc.getLocalProperty(SpanProp) else null
    if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
    val start = now()
    try body(id)
    finally {
      val end = now()
      if (sc != null) sc.setLocalProperty(SpanProp, outer)
      if (always || enabled) record(SpanRec(id, name, parent, run, start, end))
    }
  }

  def spansNamed(prefix: String): Seq[SpanRec] =
    spans.synchronized(spans.filter(_.name.startsWith(prefix)).toSeq)

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(listener)
  }

  /** A new session of `base` (cold session memos). In a traced run the
    * session-scoped listeners are registered on it; streams started from
    * it inherit them.
    */
  def newSession(base: SparkSession): SparkSession = {
    val s = base.newSession()
    if (enabled) {
      s.listenerManager.register(qeListener)
      s.streams.addListener(streamListener)
    }
    s
  }

  /** Waits until every listener has seen every event posted so far. */
  def drain(): Unit = if (spark != null) ListenerBusAccess.drain(spark.sparkContext)

  def detach(s: SparkSession): Unit = if (enabled) {
    drain()
    s.sparkContext.removeSparkListener(listener)
  }

  /** Trigger durations (seconds) of the micro-batches each stream ran. */
  def streamTriggers: Seq[(String, Long, Double)] = streamListener.synchronized(
    streamListener.batches.toSeq)

  /** Sum of span durations by layer name, in seconds. */
  private def spanSeconds(name: String): Double =
    spansNamed(name).filter(_.name == name).map(_.seconds).sum

  /** Per-layer metrics, summed over the run; zero for a layer the workload
    * does not reach. Workload-specific counts come in `r.layers`.
    */
  def layerMetrics(r: RunResult): Map[String, Double] = if (!enabled) Map.empty else {
    val ops = spansNamed("op/")
    val opSeconds = ops.map(_.seconds).sum
    val l = listener
    val idle = l.synchronized {
      val intervals = l.taskIntervals.sortBy(_._1).toSeq
      ops.map(o => o.seconds - covered(intervals, o.start, o.end)).sum[Double]
    }
    val base = Map(
      "scheduler.jobs" -> l.jobs.size.toDouble,
      "scheduler.stages" -> l.stages.toDouble,
      "scheduler.tasks" -> l.total.tasks.toDouble,
      "scheduler.idle_s" -> idle,
      "catalyst.actions" -> qeListener.actions.toDouble,
      "catalyst.plan_s" -> qeListener.planMs / 1e3,
      "scan.input_mb" -> l.total.inputBytes / MB,
      "executor.task_run_s" -> l.total.runMs / 1e3,
      "executor.task_cpu_s" -> l.total.cpuNs / 1e9,
      "executor.gc_s" -> l.total.gcMs / 1e3,
      "executor.busy_frac" ->
        (if (opSeconds > 0) l.total.runMs / 1e3 / (opSeconds * Main.Cores) else 0.0),
      "shuffle.write_mb" -> l.total.shuffleWriteBytes / MB,
      "shuffle.read_mb" -> l.total.shuffleReadBytes / MB,
      "shuffle.spill_mb" -> l.total.spillBytes / MB,
    ) ++ Seq("query.build", "query.execute", "sources.pagination.fetch",
             "ingest.fanout", "ingest.typed", "sources.jdbc_sink.write")
      .map(n => s"${n}_s" -> spanSeconds(n))
    val zeros = Seq("sources.pagination.pages", "sources.pagination.retries",
      "sources.jdbc_sink.rows", "sources.jdbc_sink.rows_per_s",
      "streaming.batches", "streaming.batch_overhead_s")
      .map(_ -> 0.0).toMap
    zeros ++ base ++ r.layers
  }

  /** Everything recorded, for the trace file: spans with self time, job
    * spans with their counts, and listener totals per operation.
    */
  def dump(): Map[String, Any] = {
    val all = spans.synchronized(spans.toSeq)
    val jobs = listener.synchronized(listener.jobs.values.toSeq)
    val children = all.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(_.span)
    def selfSeconds(s: SpanRec): Double = {
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end))
      s.seconds - covered(kids.sortBy(_._1), s.start, s.end)
    }
    val spanRows = all.sortBy(_.start).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ns" -> s.start, "end_ns" -> s.end, "seconds" -> s.seconds,
        "self_seconds" -> selfSeconds(s))
    }
    val jobRows = jobs.sortBy(_.start).map { j =>
      Map("job" -> j.id, "span" -> j.span, "start_ns" -> j.start, "end_ns" -> j.end,
        "stages" -> j.stageIds.size)
    }
    val perSpan = listener.synchronized(listener.bySpan.map { case (k, v) =>
      k.toString -> v.toMap }.toMap)
    Map("spans" -> spanRows, "jobs" -> jobRows, "counts_by_span" -> perSpan,
      "plans" -> qeListener.synchronized(qeListener.events.toSeq),
      "stream_batches" -> streamTriggers.map { case (r, b, s) =>
        Map("stream" -> r, "batch" -> b, "trigger_s" -> s) })
  }

  /** Spark's listener: jobs, stages and task metrics, each attributed to
    * the harness span that was open on the submitting thread. Work with no
    * open span (the output checks) is left out.
    */
  private final class Listener extends SparkListener {
    val jobs = mutable.Map[Int, JobRec]()
    val stageSpan = mutable.Map[Int, Int]()
    var stages = 0
    val total = new Counts
    val bySpan = mutable.Map[Int, Counts]()
    val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
        .foreach { span =>
          jobs(e.jobId) = JobRec(e.jobId, span, e.time * 1000000L, e.time * 1000000L, e.stageIds)
          e.stageIds.foreach(stageSpan(_) = span)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time * 1000000L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach { span =>
        stages += 1
        bySpan.getOrElseUpdate(span, new Counts).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        Seq(total, bySpan.getOrElseUpdate(span, new Counts)).foreach(_.add(e))
        if (e.taskInfo != null)
          taskIntervals += ((e.taskInfo.launchTime * 1000000L, e.taskInfo.finishTime * 1000000L))
      }
    }
  }

  /** Catalyst: one event per driver action, with its planning phases. */
  private final class QeListener extends QueryExecutionListener {
    var actions = 0
    var planMs = 0L
    val events = mutable.ArrayBuffer[Map[String, Any]]()
    private def seen(funcName: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
      actions += 1
      val phases = qe.tracker.phases.filter { case (k, _) =>
        Seq("analysis", "optimization", "planning").contains(k) }
      val ms = phases.values.map(_.durationMs).sum
      planMs += ms
      events += Map("action" -> funcName, "ok" -> ok, "plan_ms" -> ms,
        "start_ms" -> (if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      seen(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen(funcName, qe, ok = false)
  }

  private final class StreamListener extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer[(String, Long, Double)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) batches += ((p.runId.toString, p.batchId, ms / 1e3))
    }
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val MB = 1024.0 * 1024.0

  final case class SpanRec(id: Int, name: String, parent: Int, run: String,
                           start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
  final case class JobRec(id: Int, span: Int, start: Long, end: Long, stageIds: Seq[Int])

  final class Counts {
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, inputBytes, shuffleWriteBytes, shuffleReadBytes,
        spillBytes = 0L
    def add(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.diskBytesSpilled
      }
    }
    def toMap: Map[String, Any] = Map("stages" -> stages, "tasks" -> tasks,
      "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "input_mb" -> inputBytes / MB, "shuffle_write_mb" -> shuffleWriteBytes / MB,
      "shuffle_read_mb" -> shuffleReadBytes / MB, "spill_mb" -> spillBytes / MB)
  }

  /** Length (seconds) of [from, to] covered by the union of `sorted`
    * intervals (sorted by start).
    */
  def covered(sorted: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s0, e0) =>
      val s = math.max(s0, from); val e = math.min(e0, to)
      if (e > s) {
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  /** Megabytes still held by the block manager (cached and checkpointed
    * RDD blocks in memory or on disk).
    */
  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
}
