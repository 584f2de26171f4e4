package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming STATE-STORE scaling audit — the stateful companion to
  * [[ScalingAudit]]'s batch byte metrics. Batch task metrics say nothing
  * about the one execution surface unique to Structured Streaming: the
  * keyed state a stream-stream join / flatMapGroupsWithState /
  * windowed-agg operator accumulates across micro-batches. This tool runs
  * the stateful query family across SF directories and records, per
  * query, the [[org.apache.spark.sql.streaming.StateOperatorProgress]]
  * peaks: total state rows, state memory bytes, rows updated/removed —
  * the numbers that decide whether an operator's state stays bounded by
  * watermark eviction (healthy) or grows with the whole input (a scale
  * bug at 100 TB).
  *
  * Wiring: the engine's streaming operators run inside CLONED sessions
  * (EventsStream.withStateSession isolates the state-partition width), so
  * a listener registered on the outer session's StreamingQueryManager
  * would never see them. Instead the listener class is registered via
  * `spark.sql.streaming.streamingQueryListeners` in the BUILDER conf —
  * that lands in the shared SparkConf, every cloned session's manager
  * instantiates it, and all instances funnel into the shared
  * [[StreamingStateAudit.Sink]]. State metrics are plan+data properties
  * like shuffle bytes: run-invariant, immune to the box's wall-clock
  * noise windows.
  *
  * Usage:
  *   runMain graft.tools.StreamingStateAudit <out.json> <sfDir1,...> <q1,...>
  */
object StreamingStateAudit {

  /** Shared accumulator all conf-instantiated listener copies write to.
    * Peaks are tracked per operator name so a multi-operator query (a
    * stream-stream join keeps four stores per partition under one
    * operator; a join + downstream agg keeps two operators) reports each
    * operator's own peak; the per-query row sums them. */
  object Sink {
    final case class OpPeak(rows: AtomicLong, memBytes: AtomicLong,
                            updated: AtomicLong, removed: AtomicLong)
    val byOperator = new ConcurrentHashMap[String, OpPeak]()

    def record(opName: String, rows: Long, mem: Long,
               updated: Long, removed: Long): Unit = {
      val p = byOperator.computeIfAbsent(opName,
        _ => OpPeak(new AtomicLong, new AtomicLong, new AtomicLong, new AtomicLong))
      p.rows.getAndUpdate(v => math.max(v, rows))
      p.memBytes.getAndUpdate(v => math.max(v, mem))
      // updated/removed are per-batch deltas: SUM them across batches
      p.updated.addAndGet(updated)
      p.removed.addAndGet(removed)
    }

    def reset(): Unit = byOperator.clear()

    /** Monotone fingerprint of everything accumulated so far (updated/
      * removed are summed, rows/mem peaks only ratchet up within a query)
      * — used to detect that the async listener bus has drained, the
      * same device as ScalingAudit.MetricsListener.fingerprint. */
    def fingerprint: Long = {
      var fp = 0L
      byOperator.forEach { (_, p) =>
        fp += p.rows.get + p.memBytes.get + p.updated.get + p.removed.get
      }
      fp
    }

    /** (operators, Σ peak rows, Σ peak mem, Σ updated, Σ removed). */
    def snapshot(): (Int, Long, Long, Long, Long) = {
      var (n, rows, mem, upd, rem) = (0, 0L, 0L, 0L, 0L)
      byOperator.forEach { (_, p) =>
        n += 1; rows += p.rows.get; mem += p.memBytes.get
        upd += p.updated.get; rem += p.removed.get
      }
      (n, rows, mem, upd, rem)
    }
  }

  /** Conf-registered listener (zero-arg ctor, one instance per session's
    * StreamingQueryManager); every instance writes to [[Sink]]. */
  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val ops = e.progress.stateOperators
      var i = 0
      while (i < ops.length) {
        val o = ops(i)
        val name = if (o.operatorName == null || o.operatorName.isEmpty)
          s"op_$i" else o.operatorName
        Sink.record(name, o.numRowsTotal, o.memoryUsedBytes,
          o.numRowsUpdated, o.numRowsRemoved)
        i += 1
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Poll the async StreamingQueryListener bus until no progress event
    * lands for 200 ms (bounded at 10 s): a fixed sleep misses stragglers
    * under GC pressure — late events would vanish from this query's
    * snapshot AND land after the next reset(), contaminating the next
    * row. */
  private[tools] def drainBus(): Unit = drain()

  private def drain(): Unit = {
    // seed from the CURRENT fingerprint so an already-quiescent bus exits
    // after one 200 ms stability window — `last = -1` forced the first
    // read (typically 0) to count as a change and reset the clock, a
    // fixed ~220 ms extra per drain on an empty bus
    var last = Sink.fingerprint
    var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
      (System.nanoTime() - stableSince) < 200L * 1000 * 1000) {
      val fp = Sink.fingerprint
      if (fp != last) { last = fp; stableSince = System.nanoTime() }
      Thread.sleep(20)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(outPath, sfDirsArg, namesArg) = args.take(3)
    val sfDirs = sfDirsArg.split(",").map(_.trim).filter(_.nonEmpty)
    val names = namesArg.split(",").map(_.trim).filter(_.nonEmpty)

    // SPARK_GRAFT_EXTRA_CONF: audit-scoped knobs at session creation — a
    // big-SF leg needs spark.driver.maxResultSize raised because the engine's
    // streaming queries RETURN their result via a memory sink (the
    // harness contract), which collects the joined output on the driver;
    // operator STATE (what this tool measures) is unaffected either way.
    val spark = graft.Session.local(graft.Session.cpus,
      // the load-bearing line: cloned sessions instantiate this listener
      "spark.sql.streaming.streamingQueryListeners" -> classOf[Listener].getName)
    // optional bounded-state backfill replay (see EventsStream's
    // eventsStreamSource): chunk the file source N files per micro-batch
    sys.env.get("SPARK_GRAFT_MAX_FILES_PER_TRIGGER").foreach(v =>
      spark.conf.set("spark.graft.streaming.maxFilesPerTrigger", v))

    val perSf = sfDirs.map { sfDir =>
      val rows = names.map { name =>
        // drain in BOTH directions (the ScalingAudit lesson): stragglers
        // from the previous query must land before reset(), and this
        // query's own late events must land before snapshot()
        drain()
        Sink.reset()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        drain()
        val (ops, srows, smem, supd, srem) = Sink.snapshot()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
        val j = s"""{"state_operators":$ops,"state_rows_peak":$srows,""" +
          s""""state_mem_peak_bytes":$smem,"state_rows_updated":$supd,""" +
          s""""state_rows_removed":$srem,"wall_sec":${f"$wall%.4f"}}"""
        println(s"[stream-state-audit] $sfDir $name $j")
        s""""$name":$j"""
      }
      s""""$sfDir":${rows.mkString("{", ",", "}")}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      perSf.mkString("{", ",", "}"))
    println(s"[stream-state-audit] wrote $outPath")
    spark.stop()
  }
}
