package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval of the traced run. Times are epoch milliseconds;
  * `parent` is 0 for a root (query) span. `trace` identifies the
  * (workload, seed, query) the span belongs to.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, startMs: Double, endMs: Double,
    attrs: Map[String, Double] = Map.empty)

/** Records spans around the harness's calls into the engine and from
  * Spark's own listener events, all in memory until [[spans]] is read.
  *
  * The harness runs one query at a time and calls [[settle]] after each,
  * which waits for Spark's listener bus to deliver every event of that
  * query, so events are attributed to the query that was current when
  * they were posted.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, on the same axis as
    * Spark's event timestamps.
    */
  def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6

  private val out = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  @volatile private var trace = ""
  @volatile private var root = 0L

  def spans: Seq[Span] = synchronized(out.toList)

  private def add(parent: Long, name: String, layer: String, start: Double,
      end: Double, attrs: Map[String, Double]): Long = synchronized {
    nextId += 1
    out += Span(nextId, parent, trace, name, layer, start, end, attrs)
    nextId
  }

  /** Open a root span for one query; later spans belong to it. */
  def beginQuery(traceId: String): Unit = synchronized {
    trace = traceId
    execs.clear()
    nextId += 1
    root = nextId
  }

  /** Close the query's root span once its events have settled. */
  def endQuery(name: String, start: Double, end: Double,
      attrs: Map[String, Double]): Unit = synchronized {
    out += Span(root, 0L, trace, name, "query", start, end, attrs)
  }

  /** Time `body` as a child of the current query. */
  def span[A](name: String, layer: String)(body: => A): A = {
    val t0 = now()
    try body finally add(root, name, layer, t0, now(), Map.empty)
  }

  // ---- Spark SQL executions and their planning -------------------------
  // execution id -> (span id, start), for the current query
  private val execs = mutable.Map.empty[Long, (Long, Double)]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      nextId += 1
      execs(e.executionId) = (nextId, e.time.toDouble)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(e.executionId).foreach { case (id, t0) =>
        out += Span(id, root, trace, "execution", "catalyst", t0, e.time.toDouble)
      }
    }
    case _ =>
  }

  /** A planning span (analysis, optimization, physical planning) from the
    * QueryExecutionListener callbacks. Spark numbers executions apart from
    * query executions, so `run.py` places it under the execution that
    * started when the planning ended.
    */
  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      add(root, "planning", "planning",
        ph.valuesIterator.map(_.startTimeMs).min.toDouble,
        ph.valuesIterator.map(_.endTimeMs).max.toDouble,
        ph.map { case (k, v) => s"${k}_ms" -> v.durationMs.toDouble } +
          ("plan_ms" -> ph.valuesIterator.map(_.durationMs).sum.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  // ---- jobs, stages, tasks -----------------------------------------------
  private val jobStart = mutable.Map.empty[Int, (Double, Long, Seq[Int])]
  private val jobSpanId = mutable.Map.empty[Int, Long]
  private val jobOfStage = mutable.Map.empty[Int, Long]
  private final class TaskAgg {
    var tasks = 0; var failed = 0; var runMs = 0.0; var overheadMs = 0.0
  }
  private val taskAgg = mutable.Map.empty[(Int, Int), TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(execs.get).map(_._1).getOrElse(root)
    nextId += 1
    jobStart(e.jobId) = (e.time.toDouble, exec, e.stageIds)
    e.stageIds.foreach(jobOfStage(_) = nextId)
    jobSpanId(e.jobId) = nextId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent, stages) =>
      val ok = e.jobResult == JobSucceeded
      out += Span(jobSpanId.remove(e.jobId).get, parent, trace,
        s"job ${e.jobId}", "scheduler", t0, e.time.toDouble,
        Map("stages" -> stages.size.toDouble, "failed" -> (if (ok) 0.0 else 1.0)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    val run = Option(e.taskMetrics).map(_.executorRunTime.toDouble).getOrElse(0.0)
    a.runMs += run
    a.overheadMs += math.max(0.0, e.taskInfo.duration - run)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val a = taskAgg.remove((s.stageId, s.attemptNumber())).getOrElse(new TaskAgg)
    val m = s.taskMetrics
    val mb = 1024.0 * 1024.0
    val attrs = Map(
      "tasks" -> a.tasks.toDouble,
      "failed_tasks" -> a.failed.toDouble,
      "attempt" -> s.attemptNumber().toDouble,
      "task_ms" -> a.runMs,
      "task_overhead_ms" -> a.overheadMs,
      "shuffle_write_mb" -> (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten / mb),
      "shuffle_read_mb" -> (if (m == null) 0.0 else m.shuffleReadMetrics.totalBytesRead / mb),
      "fetch_wait_ms" -> (if (m == null) 0.0 else m.shuffleReadMetrics.fetchWaitTime.toDouble),
      "spill_mb" -> (if (m == null) 0.0 else m.diskBytesSpilled / mb),
      "input_mb" -> (if (m == null) 0.0 else m.inputMetrics.bytesRead / mb),
      "output_mb" -> (if (m == null) 0.0 else m.outputMetrics.bytesWritten / mb))
    val t0 = s.submissionTime.getOrElse(0L).toDouble
    val t1 = s.completionTime.getOrElse(s.submissionTime.getOrElse(0L)).toDouble
    add(jobOfStage.getOrElse(s.stageId, root), s"stage ${s.stageId}.${s.attemptNumber()}",
      "stage", t0, t1, attrs)
  }

  // ---- Structured Streaming micro-batches --------------------------------
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      add(root, s"batch ${p.name}#${p.batchId}", "streaming", t0, t0 + p.batchDuration,
        Map(
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
          "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
          "state_mb" -> ops.map(_.memoryUsedBytes).sum / 1024.0 / 1024.0,
          "input_rows" -> p.numInputRows.toDouble))
    }
  }

  /** Wait until Spark has delivered every event posted so far. */
  def settle(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(sc)
}
