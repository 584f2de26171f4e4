package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBus

/** Deterministic scaling audit: run named queries across several SF
  * directories and record per-query TASK METRICS — input bytes, shuffle
  * read/write bytes, memory/disk spill, task count, summed executor CPU —
  * alongside wall clock.
  *
  * Rationale: this box shows intermittent multi-second slow windows
  * (hypervisor steal; six rounds of bench adjudication, now canary-proofed
  * in-artifact), so WALL-CLOCK scaling ratios carry noise that has to be
  * adjudicated away. Byte-level task metrics do not: the bytes a query
  * shuffles at a given SF are a property of the PLAN and the DATA, not of
  * the box's mood. If shuffle bytes and spill grow linearly from sf0.1 →
  * sf1 → sf10 while the plan stays join-sparse, the operator's 100 TB
  * design claim holds regardless of what the wall clock did that minute.
  * (CPU time is near-deterministic; wall clock is reported for context.)
  *
  * Usage:
  *   runMain graft.tools.ScalingAudit <out.json> <sfDir1,sfDir2,...> <q1,q2,...>
  *
  * Each query runs once UNTIMED per SF (codegen warm-up, page cache), then
  * once measured. Metrics come from a [[SparkListener]]; the listener bus
  * is async, so it is drained before the counters are reset and again
  * before they are read.
  */
object ScalingAudit {

  /** Task-metric accumulator; one instance registered per session. */
  final class MetricsListener extends SparkListener {
    val inputBytes = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val cpuNanos = new AtomicLong
    val tasks = new AtomicLong
    val peakExecMem = new AtomicLong

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        cpuNanos.addAndGet(m.executorCpuTime)
        tasks.incrementAndGet()
        peakExecMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }

    def reset(): Unit =
      Seq(inputBytes, shuffleRead, shuffleWrite, memSpill, diskSpill,
        cpuNanos, tasks, peakExecMem).foreach(_.set(0L))

    /** Sum of every additive counter: 0 exactly when nothing was recorded. */
    def fingerprint: Long =
      inputBytes.get + shuffleRead.get + shuffleWrite.get + memSpill.get +
        diskSpill.get + cpuNanos.get + tasks.get
  }

  /** Run `name` once measured on `sfDir`, returning (metrics, wallSec).
    * Caller must have warmed the query up (codegen) beforehand. */
  private[tools] def measureOnce(
      spark: SparkSession, l: MetricsListener,
      name: String, sfDir: String): (Map[String, Long], Double) =
    measureDf(spark, l, graft.SparkEntry.queries(name)(spark, sfDir))

  /** Measure one noop-sunk evaluation of `df` (by-name, so construction
    * cost lands inside the wall too). Shared with [[Profile]]. */
  private[tools] def measureDf(
      spark: SparkSession, l: MetricsListener,
      df: => org.apache.spark.sql.DataFrame): (Map[String, Long], Double) = {
    // the bus is async in BOTH directions: task-end events from the
    // warm-up (or a previous query) can still be in flight here and would
    // land AFTER reset(), contaminating the measured bytes — drain first
    ListenerBus.drain(spark.sparkContext)
    l.reset()
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerBus.drain(spark.sparkContext)
    val m = Map(
      "input_bytes" -> l.inputBytes.get,
      "shuffle_read_bytes" -> l.shuffleRead.get,
      "shuffle_write_bytes" -> l.shuffleWrite.get,
      "mem_spill_bytes" -> l.memSpill.get,
      "disk_spill_bytes" -> l.diskSpill.get,
      "cpu_ms" -> l.cpuNanos.get / 1000000L,
      "tasks" -> l.tasks.get,
      "peak_exec_mem_bytes" -> l.peakExecMem.get)
    (m, wall)
  }

  def main(args: Array[String]): Unit = {
    val Array(outPath, sfDirsArg, namesArg) = args.take(3)
    val sfDirs = sfDirsArg.split(",").map(_.trim).filter(_.nonEmpty)
    val names = namesArg.split(",").map(_.trim).filter(_.nonEmpty)

    // audit-scoped knobs (see [[graft.Session]]) — e.g. sizing a big-driver leg:
    //   SPARK_GRAFT_EXTRA_CONF="spark.graft.dedup.broadcastMaxBytes=4294967296,spark.driver.maxResultSize=8g"
    val spark = graft.Session.local(graft.Session.cpus)
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    def jl(m: Map[String, Long], wall: Double): String =
      (m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" } :+
        f""""wall_sec":$wall%.4f""").mkString("{", ",", "}")

    // Byte metrics are warm-up-independent (they're plan+data properties);
    // only wall clock benefits from a warm codegen cache. The warm-up run
    // DOUBLES the cost of a big-SF leg, so it's skippable when only the
    // deterministic columns matter: SPARK_GRAFT_AUDIT_WARMUP=0.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_AUDIT_WARMUP", "1") != "0"
    val perSf = sfDirs.map { sfDir =>
      val rows = names.map { name =>
        if (warmup)
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
        val (m, wall) = measureOnce(spark, listener, name, sfDir)
        // Release the query's leftovers before the next one runs: the
        // lazily-localCheckpointed subtrees (Dedup/Impute) register as
        // persistent RDDs and pin storage memory until their DataFrame
        // objects are GC'd — across a big-SF multi-query leg that
        // accumulation OOM'd the heap (q70@sf10 succeeded standalone,
        // died 8th-in-session). Unpersist + a GC hint make each query's
        // measurement start from a clean block manager.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
        println(s"[scaling-audit] $sfDir $name " + jl(m, wall))
        s""""$name":${jl(m, wall)}"""
      }
      s""""$sfDir":${rows.mkString("{", ",", "}")}"""
    }
    val json = perSf.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[scaling-audit] wrote $outPath")
    spark.stop()
  }
}
