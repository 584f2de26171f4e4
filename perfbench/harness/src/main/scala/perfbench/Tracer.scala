package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters of one layer span. Listener callbacks arrive on the
  * bus threads, so every update is synchronized. */
final class Counters {
  private val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def toMap: Map[String, Double] = synchronized { m.toMap }
}

/** The traced run's one listener: a `SparkListener` for jobs, stages,
  * tasks and the streaming progress events that share its bus, and a
  * `QueryExecutionListener` for the planning phases of each action on
  * the main session. Everything lands in the current [[Counters]]; the
  * harness drains the bus and calls [[swap]] at each layer boundary. */
final class Tracer extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile private var current = new Counters
  private val stageSubmitMs = TrieMap[Int, Long]()
  private val jobStages = TrieMap[Int, Seq[Int]]()

  /** Counters since the previous swap; call only after draining the bus. */
  def swap(): Counters = { val c = current; current = new Counters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    current.add("jobs", 1)
    jobStages(e.jobId) = e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStages.remove(e.jobId).foreach { ids =>
      current.add("stages_skipped", ids.count(id => !stageSubmitMs.contains(id)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    current.add("stages", 1)
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    c.add("tasks", 1)
    if (e.reason != Success) c.add("tasks_failed", 1)
    stageSubmitMs.get(e.stageId).foreach { s =>
      c.add("sched_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.add("cpu_s", m.executorCpuTime / 1e9)
      c.add("run_s", m.executorRunTime / 1e3)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("input_mb", m.inputMetrics.bytesRead / 1e6)
      c.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      c.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      c.add("spill_mb", m.diskBytesSpilled / 1e6)
      c.max("peak_mem_mb", m.peakExecutionMemory / 1e6)
      c.add("write_mb", m.outputMetrics.bytesWritten / 1e6)
      c.add("write_records", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val c = current
      val pr = p.progress
      def dur(k: String): Double =
        Option(pr.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      c.add("streaming_batches", 1)
      c.add("streaming_trigger_s", dur("triggerExecution"))
      c.add("streaming_commit_s", dur("walCommit") + dur("commitOffsets") +
        pr.stateOperators.map(_.commitTimeMs).sum / 1e3)
      c.max("streaming_state_rows_peak", pr.stateOperators.map(_.numRowsTotal).sum.toDouble)
      c.max("streaming_state_mb_peak", pr.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = current
    val phases = qe.tracker.phases
    def phase(k: String): Double = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    c.add("plan_analysis_s", phase("analysis"))
    c.add("plan_optimization_s", phase("optimization"))
    c.add("plan_planning_s", phase("planning"))
    c.add("plan_nodes", collectWithSubqueries(qe.executedPlan) { case p => p }.size.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
