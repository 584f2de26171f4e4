package graft.metrics

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one account of what a piece of driver code made Spark do: jobs
  * started, completed stages, summed task metrics and streaming state-store
  * peaks. Every tool and test measures through [[QueryMetrics.measure]].
  *
  * Callbacks arrive on listener-bus threads, hence atomics and concurrent
  * collections. Streaming progress events are posted to the context's bus
  * whichever session runs the stream, so the state peaks include the streams
  * that `EventsStream.withStateSession` runs on cloned sessions. */
final class QueryMetrics private () extends SparkListener {
  import QueryMetrics._

  private val jobs = new AtomicLong
  private val stages = new ConcurrentLinkedQueue[StageInfo]
  private val task = TaskKeys.map(_ -> new AtomicLong).toMap
  /** Per state operator: peak rows, peak memory, Σ updated, Σ removed.
    * updated/removed are per-batch deltas, so they are summed. */
  private val state = new ConcurrentHashMap[String, Array[AtomicLong]]

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stages.add(s.stageInfo)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      task("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      task("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      task("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      task("mem_spill_bytes").addAndGet(m.memoryBytesSpilled)
      task("disk_spill_bytes").addAndGet(m.diskBytesSpilled)
      task("cpu_ns").addAndGet(m.executorCpuTime)
      task("tasks").incrementAndGet()
      task("peak_exec_mem_bytes").getAndUpdate(p => math.max(p, m.peakExecutionMemory))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      p.progress.stateOperators.zipWithIndex.foreach { case (o, i) =>
        val name = if (o.operatorName == null || o.operatorName.isEmpty) s"op_$i"
                   else o.operatorName
        val a = state.computeIfAbsent(name, _ => Array.fill(4)(new AtomicLong))
        a(0).getAndUpdate(v => math.max(v, o.numRowsTotal))
        a(1).getAndUpdate(v => math.max(v, o.memoryUsedBytes))
        a(2).addAndGet(o.numRowsUpdated)
        a(3).addAndGet(o.numRowsRemoved)
      }
    case _ =>
  }

  private def snapshot(wallSec: Double): Snapshot = {
    val ops = state.values.asScala.toSeq
    def sum(i: Int) = ops.map(_(i).get).sum
    val taskSums = task.map { case (k, v) => k -> v.get }
    Snapshot(jobs.get.toInt, stages.asScala.toList,
      taskSums - "cpu_ns" + ("cpu_ms" -> taskSums("cpu_ns") / 1000000L) ++ Map(
        "state_operators" -> ops.size.toLong,
        "state_rows_peak" -> sum(0),
        "state_mem_peak_bytes" -> sum(1),
        "state_rows_updated" -> sum(2),
        "state_rows_removed" -> sum(3)),
      wallSec)
  }
}

object QueryMetrics {
  private val TaskKeys = Seq("input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "mem_spill_bytes", "disk_spill_bytes", "cpu_ns",
    "tasks", "peak_exec_mem_bytes")

  /** What one [[measure]] call saw. `counters` holds the eight task sums
    * ([[TaskKeys]], with the cpu time as `cpu_ms`) and the five `state_*`
    * columns, each summed over operators and 0 when no stream ran.
    * `stages` is in completion order. */
  final case class Snapshot(jobs: Int, stages: Seq[StageInfo],
                            counters: Map[String, Long], wallSec: Double)

  /** Run `body` under a fresh listener and return what it caused. The bus
    * is async, so it is drained before the listener is added (no event of
    * earlier work reaches it) and before the snapshot (no event of `body`
    * is missed). */
  def measure(spark: SparkSession)(body: => Any): Snapshot = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val l = new QueryMetrics
    sc.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBus.drain(sc)
      l.snapshot(wall)
    } finally sc.removeSparkListener(l)
  }
}
