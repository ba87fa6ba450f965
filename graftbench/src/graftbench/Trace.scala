package graftbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Registered for every session of a traced run through
  * `spark.sql.queryExecutionListeners` (a per-session listener would miss
  * the fresh sessions the query mixes run in).
  */
final class ExecutionCounter extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.active.foreach(_.executed(durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {
  @volatile private[graftbench] var active: Option[Trace] = None
}

/** Tracing for the per-layer run: spans the benchmark wraps around each
  * public call into graft, plus Spark's own listeners (scheduler, SQL
  * execution, streaming progress). Everything is attributed to the
  * traced passes by time window: a task, stage, SQL execution or
  * micro-batch counts when it started inside a traced pass. Spans are
  * kept in memory and written out when the run ends.
  */
final class Trace(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startNs: Long, endNs: Long)

  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var openSince: Long = -1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val events = new AtomicLong(0)

  def begin(): Unit = synchronized { openSince = System.currentTimeMillis() }
  def end(): Unit = synchronized {
    if (openSince >= 0) windows += ((openSince, System.currentTimeMillis()))
    openSince = -1L
  }
  def tracing: Boolean = openSince >= 0

  private def inWindow(t: Long): Boolean = synchronized {
    (openSince >= 0 && t >= openSince) || windows.exists { case (a, b) => t >= a && t <= b }
  }

  /** A span around one call into a layer (only inside traced passes). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, layer, name, System.nanoTime(), -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  // ---- scheduler: tasks, stages
  private object tasks {
    var n, runMs, cpuNs, gcMs, inputBytes, shufWrite, shufRead, spill, schedDelayMs = 0L
    var peakExec = 0L
    var stages = 0L
  }

  // ---- SQL executions: the latest (adaptive) plan of each execution
  private val plans = mutable.Map.empty[Long, (Long, SparkPlanInfo)]
  private object sql { var ok = 0L }

  // ---- streaming progress, per query name
  final class StreamAgg {
    var batches, rows, busyMs, stateRows, stateMem = 0L
  }
  private val streams = mutable.Map.empty[String, StreamAgg]

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val ti = e.taskInfo
      val m = e.taskMetrics
      if (m != null && inWindow(ti.launchTime)) tasks.synchronized {
        tasks.n += 1
        tasks.runMs += m.executorRunTime
        tasks.cpuNs += m.executorCpuTime
        tasks.gcMs += m.jvmGCTime
        tasks.inputBytes += m.inputMetrics.bytesRead
        tasks.shufWrite += m.shuffleWriteMetrics.bytesWritten
        tasks.shufRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        tasks.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        tasks.peakExec = math.max(tasks.peakExec, m.peakExecutionMemory)
        val dur = ti.finishTime - ti.launchTime
        tasks.schedDelayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      if (e.stageInfo.submissionTime.exists(inWindow)) tasks.synchronized { tasks.stages += 1 }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        plans.synchronized { plans(s.executionId) = (s.time, s.sparkPlanInfo) }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        events.incrementAndGet()
        plans.synchronized {
          plans.get(u.executionId).foreach { case (t, _) => plans(u.executionId) = (t, u.sparkPlanInfo) }
        }
      case _ =>
    }
  }

  /** A query execution that ended `durationNs` after it started (from
    * [[ExecutionCounter]], which every session of a traced run carries).
    */
  private[graftbench] def executed(durationNs: Long): Unit = {
    events.incrementAndGet()
    val started = System.currentTimeMillis() - durationNs / 1000000L
    if (inWindow(started)) sql.synchronized { sql.ok += 1 }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (p.name != null && inWindow(at)) streams.synchronized {
        val a = streams.getOrElseUpdate(p.name, new StreamAgg)
        a.batches += 1
        a.rows += p.numInputRows
        a.busyMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        a.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        a.stateMem = p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)
  Trace.active = Some(this)

  /** Wait until the asynchronous listener buses have delivered every
    * event (no new event for 300 ms, at most 10 s).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (events.get != last && System.currentTimeMillis() < deadline) {
      last = events.get
      Thread.sleep(300)
    }
  }

  def stream(name: String): StreamAgg = streams.synchronized {
    streams.getOrElse(name, new StreamAgg)
  }

  /** Shuffle and broadcast exchanges in the final (adaptive) plans of
    * the SQL executions started in traced passes; a reused exchange is
    * not counted again.
    */
  private def exchanges(): (Long, Long) = {
    var shuffles, bcasts = 0L
    def walk(p: SparkPlanInfo): Unit = p.nodeName match {
      case "ReusedExchange" => ()
      case name =>
        if (name == "Exchange") shuffles += 1
        if (name == "BroadcastExchange") bcasts += 1
        p.children.foreach(walk)
    }
    plans.synchronized {
      plans.values.foreach { case (t, info) => if (inWindow(t)) walk(info) }
    }
    (shuffles, bcasts)
  }

  /** Spark-engine metrics per traced pass (peak execution memory is the
    * largest single task's).
    */
  def sparkMetrics(passes: Int): Seq[Metric] = {
    val k = math.max(1, passes).toDouble
    val (sh, bc) = exchanges()
    tasks.synchronized {
      Seq(
        Metric("spark.stages", tasks.stages / k, "count", passes),
        Metric("spark.tasks", tasks.n / k, "count", passes),
        Metric("spark.sql_executions", sql.ok / k, "count", passes),
        Metric("spark.shuffle_exchanges", sh / k, "count", passes),
        Metric("spark.broadcast_exchanges", bc / k, "count", passes),
        Metric("spark.shuffle_write_bytes", tasks.shufWrite / k, "B", passes),
        Metric("spark.shuffle_read_bytes", tasks.shufRead / k, "B", passes),
        Metric("spark.input_bytes", tasks.inputBytes / k, "B", passes),
        Metric("spark.spill_bytes", tasks.spill / k, "B", passes),
        Metric("spark.peak_exec_memory_bytes", tasks.peakExec.toDouble, "B", passes),
        Metric("spark.executor_run_s", tasks.runMs / 1000.0 / k, "s", passes),
        Metric("spark.executor_cpu_s", tasks.cpuNs / 1e9 / k, "s", passes),
        Metric("spark.gc_s", tasks.gcMs / 1000.0 / k, "s", passes),
        Metric("spark.scheduler_delay_s", tasks.schedDelayMs / 1000.0 / k, "s", passes))
    }
  }

  /** Write every recorded span as one JSON line. */
  def writeSpans(p: Path): Unit =
    Json.writeLines(p, spans.toSeq.map { s =>
      Json.obj("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> Json.num(s.startNs.toDouble), "end_ns" -> Json.num(s.endNs.toDouble))
    })
}
