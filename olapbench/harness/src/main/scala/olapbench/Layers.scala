package olapbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Totals of the scheduler and query layers at one instant. Two of them
  * bound a window; [[Layers.window]] gives the window's share. */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    scanBytes: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, outputBytes: Long = 0,
    queries: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0,
    planningMs: Long = 0, execNs: Long = 0, compileNs: Long = 0) {
  def -(o: Totals): Totals = Totals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    scanBytes - o.scanBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes, queries - o.queries,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, execNs - o.execNs, compileNs - o.compileNs)
}

/** Per-layer recorder for the traced run: a scheduler listener for jobs,
  * stages, task time and bytes, and a query-execution listener for the
  * planning phases and execution time of every action. Registered only
  * when tracing, so untraced runs pay nothing for it. */
final class Layers extends SparkListener with QueryExecutionListener {
  private var t = Totals()
  private val stageSpans = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    t = t.copy(stages = t.stages + 1, tasks = t.tasks + si.numTasks)
    if (m != null) t = t.copy(
      taskRunMs = t.taskRunMs + m.executorRunTime,
      taskCpuNs = t.taskCpuNs + m.executorCpuTime,
      scanBytes = t.scanBytes + m.inputMetrics.bytesRead,
      shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      outputBytes = t.outputBytes + m.outputMetrics.bytesWritten)
    for (s <- si.submissionTime; c <- si.completionTime) stageSpans += ((s, c))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      t = t.copy(queries = t.queries + 1,
        analysisMs = t.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = t.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = t.planningMs + ms(QueryPlanningTracker.PLANNING),
        execNs = t.execNs + durationNs)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Current totals; the codegen counter is process-wide. */
  def totals: Totals = synchronized {
    t.copy(compileNs =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }

  /** Milliseconds of [fromMs, toMs] during which at least one stage ran. */
  def stageBusyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val spans = stageSpans.iterator
      .map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    spans.foreach { case (s, c) =>
      if (s >= end) { busy += c - s; end = c }
      else if (c > end) { busy += c - end; end = c }
    }
    busy
  }
}

object Layers {
  /** Scheduler and query metrics of one window, divided by `ops` (batches
    * or rounds) where the metric is a per-operation figure. */
  def window(d: Totals, wallMs: Long, busyMs: Long, ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val q = math.max(d.queries, 1).toDouble
    Map(
      "plan.analysis_ms" -> d.analysisMs / q,
      "plan.optimization_ms" -> d.optimizationMs / q,
      "plan.planning_ms" -> d.planningMs / q,
      "exec.ms" -> d.execNs / 1e6 / q,
      "codegen.compile_ms" -> d.compileNs / 1e6 / n,
      "spark.jobs" -> d.jobs / n,
      "spark.stages" -> d.stages / n,
      "spark.tasks" -> d.tasks / n,
      "spark.task_run_s" -> d.taskRunMs / 1e3 / n,
      "spark.task_cpu_s" -> d.taskCpuNs / 1e9 / n,
      "spark.driver_gap_s" -> (wallMs - busyMs) / 1e3 / n,
      "spark.scan_bytes" -> d.scanBytes / n,
      "spark.shuffle_read_bytes" -> d.shuffleReadBytes / n,
      "spark.shuffle_write_bytes" -> d.shuffleWriteBytes / n,
      "spark.spill_bytes" -> d.spillBytes / n,
      "spark.output_bytes" -> d.outputBytes / n)
  }
}

final case class Batch(runId: String, rows: Long, durations: Map[String, Long])

/** Micro-batch progress of every streaming query: the batch durations the
  * end-to-end metrics use, and the streaming-engine phases the traced
  * run reports. */
final class Progress extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      batches += Batch(p.runId.toString, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }

  /** Batches that carried input rows, in arrival order. */
  def dataBatches: Seq[Batch] = synchronized(batches.filter(_.rows > 0).toList)
  def clear(): Unit = synchronized(batches.clear())
}
