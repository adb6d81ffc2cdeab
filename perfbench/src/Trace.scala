package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw during one traced span: a query of a batch
  * pass, or one streaming step. Times are as Spark reports them. */
final class Counters {
  var jobs, stages, tasks, aqeReplans, exchanges = 0L
  var jobMs, taskRunMs, taskCpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords = 0L
  var analysisMs, optimizerMs, physicalMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // wall-clock ms
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }

  /** The span's per-layer numbers; `w0`/`w1` bound its wall-clock window. */
  def layers(w0: Long, w1: Long): Map[String, Double] = Map(
    "plan.analysis_s" -> analysisMs / 1e3,
    "plan.optimizer_s" -> optimizerMs / 1e3,
    "plan.physical_s" -> physicalMs / 1e3,
    "plan.exchanges" -> exchanges.toDouble,
    "plan.aqe_replans" -> aqeReplans.toDouble,
    "exec.jobs" -> jobs.toDouble,
    "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble,
    "exec.job_s" -> jobMs / 1e3,
    "exec.driver_gap_s" -> math.max(0.0, (w1 - w0 - jobCoveredMs(w0, w1)) / 1e3),
    "exec.task_run_s" -> taskRunMs / 1e3,
    "exec.task_cpu_s" -> taskCpuNs / 1e9,
    "exec.gc_s" -> gcMs / 1e3,
    "shuffle.write_mb" -> shuffleWrite / 1048576.0,
    "shuffle.read_mb" -> shuffleRead / 1048576.0,
    "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
    "shuffle.spill_mb" -> spill / 1048576.0,
    "sources.read_mb" -> inputBytes / 1048576.0,
    "sources.read_records" -> inputRecords.toDouble)
}

private object Exchanges extends AdaptiveSparkPlanHelper {
  /** Exchange nodes in the final (post-AQE) plan, subqueries included. */
  def count(qe: QueryExecution): Int =
    collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
}

/** The benchmark's own listeners: a SparkListener (jobs, stages, tasks,
  * shuffle, input, AQE re-plans), a QueryExecutionListener (planning
  * phases and Exchange count per executed plan) and a
  * StreamingQueryListener (micro-batch progress). Registered only in a
  * traced run; every count goes to the span opened last. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var cur = new Counters
  private val jobStart = mutable.Map.empty[Int, Long]

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { cur.progress += e.progress }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  /** Close the current span (after every event so far has arrived) and
    * open a new one. */
  def cut(): Counters = {
    drain()
    synchronized { val c = cur; cur = new Counters; c }
  }

  /** Jobs started so far in the open span, after draining the bus. */
  def jobsSoFar(): Long = { drain(); synchronized(cur.jobs) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      cur.jobMs += e.time - s
      cur.jobSpans += ((s, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spill += m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { cur.aqeReplans += 1 }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val ex = Exchanges.count(qe)
    synchronized {
      cur.analysisMs += ms("analysis")
      cur.optimizerMs += ms("optimization")
      cur.physicalMs += ms("planning")
      cur.exchanges += ex
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
