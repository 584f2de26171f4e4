package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** One benchmark run in one fresh JVM, driving the engine only through
  * `graft.SparkEntry`, `graft.Tables`, `graft.Catalog` and
  * `graft.GraftExtensions`.
  *
  *   1. Build the session (setup).
  *   2. First pass: every query once, in a seed-drawn order, its result
  *      written as parquet under `--out` for the oracle check.
  *   3. Steady passes: fresh seed-drawn orders, results to the `noop`
  *      sink; `--warmup-passes` of them, then whole measured passes until
  *      `--seconds` have been spent and at least `--min-passes` are done.
  *
  * Every timed query starts cache-cold: SQL caches and persisted RDDs are
  * dropped before it, outside its timed region. With `--trace 1` a
  * [[Tracer]] is registered and the listener bus is drained at each layer
  * boundary (outside the timed regions); with `--trace 0` nothing is
  * registered. The result, every raw sample included, is written as JSON
  * to `--result`.
  *
  * `--setup-only` stops after step 1 and records only the set-up time.
  */
object Harness {
  private val rt = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val result = opt("result")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val setup = (System.currentTimeMillis() - rt.getStartTime) / 1e3
    spark.sparkContext.setLogLevel("ERROR")

    val out = Map[String, Any]("setup_s" -> setup, "session_start_s" -> sessionStart)
    if (opt.contains("setup-only")) {
      // nothing else to measure: skip the orderly shutdown (the caller
      // removes the Spark temp directories)
      Files.writeString(Paths.get(result), Json(out))
      Runtime.getRuntime.halt(0)
    }
    Files.writeString(Paths.get(result), Json(out ++ new Run(spark, opt, cores).apply()))
    spark.stop()
    sys.exit(0)
  }

  def cpuNow(): Double = os.getProcessCpuTime / 1e9

  final class Run(spark: SparkSession, opt: Map[String, String], cores: Int) {
    private val dir = opt("data")
    private val outDir = opt("out")
    private val seed = opt("seed").toLong
    private val seconds = opt("seconds").toDouble
    private val warmupPasses = opt("warmup-passes").toInt
    private val minPasses = opt("min-passes").toInt
    private val queries = opt("queries").split(",").toSeq
    private val tracer = if (opt("trace") == "1") Some(new Tracer) else None
    private val spans = ArrayBuffer[Map[String, Any]]()
    private val canaries = ArrayBuffer[Double]()
    private val failures = ArrayBuffer[Map[String, Any]]()
    private val sc = spark.sparkContext

    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }

    /** Drain the bus and hand back what the span since the last call caused. */
    private def layerCounters(): Map[String, Double] = tracer match {
      case Some(t) => ListenerBus.drain(sc); t.swap().toMap
      case None => Map.empty
    }

    private val base = System.nanoTime()

    /** Time `f`; the traced run also records it as span `parent/name`
      * (seconds since the run began). Spans of one query share `query`. */
    private def span[T](parent: String, name: String, query: String)(f: => T): (T, Double) = {
      val s = System.nanoTime()
      val r = f
      val e = System.nanoTime()
      if (tracer.isDefined)
        spans += Map("id" -> s"$parent/$name", "parent" -> parent, "name" -> name,
          "query" -> query, "start_s" -> (s - base) / 1e9, "end_s" -> (e - base) / 1e9)
      (r, (e - s) / 1e9)
    }

    private def dropCachedState(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    }

    /** The `graft.Bench` canary: a CPU-bound xxhash64 range probe. */
    private def canary(): Unit = {
      val s = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cores).select(bit_xor(xxhash64(col("id"))))
        .write.mode("overwrite").format("noop").save()
      canaries += (System.nanoTime() - s) / 1e9
    }

    private def codegen(): (Long, Double) = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum / 1e3)
    }

    /** One query: build the DataFrame, then run the write action. */
    private def runQuery(name: String, pass: Int, write: DataFrame => Unit): Map[String, Any] = {
      dropCachedState()
      layerCounters()
      val id = s"run/pass$pass/$name"
      val (cgCount0, cgSum0) = codegen()
      val cpu0 = cpuNow()
      try {
        val (df, buildS) = span(id, "build", name)(graft.SparkEntry.queries(name)(spark, dir))
        val build = layerCounters()
        val (_, execS) = span(id, "execute", name)(write(df))
        val cpu = cpuNow() - cpu0
        val execute = layerCounters()
        val (cgCount1, cgSum1) = codegen()
        Map("query" -> name, "pass" -> pass, "ok" -> true, "wall_s" -> (buildS + execS),
          "build_s" -> buildS, "execute_s" -> execS, "cpu_s" -> cpu,
          "codegen_compiles" -> (cgCount1 - cgCount0).toDouble,
          // exact while the histogram's 1028-sample reservoir holds every compile
          "codegen_compile_s" -> Option.when(cgCount1 <= 1028)(cgSum1 - cgSum0),
          "build" -> build, "execute" -> execute)
      } catch {
        case e: Throwable =>
          failures += Map("query" -> name, "pass" -> pass, "error" -> String.valueOf(e.getMessage).take(300))
          layerCounters()
          Map("query" -> name, "pass" -> pass, "ok" -> false)
      }
    }

    /** Query order of pass `p`: a permutation drawn from the run's seed. */
    private def order(p: Int): Seq[String] =
      new Random(seed * 1000003L + p).shuffle(queries)

    /** Time `Tables(spark, dir, t)` (and `Tables.events`) per catalog table. */
    private def tablesProbe(): Seq[Map[String, Any]] = graft.Catalog.tables.map { t =>
      dropCachedState()
      layerCounters()
      val (_, s) = span("run/tables", t, t) {
        if (t == "events") graft.Tables.events(spark, dir) else graft.Tables(spark, dir, t)
      }
      Map("table" -> t, "read_s" -> s, "jobs" -> layerCounters().getOrElse("jobs", 0.0))
    }

    def apply(): Map[String, Any] = {
      val loadavg = os.getSystemLoadAverage
      val tables = if (tracer.isDefined) tablesProbe() else Nil
      val first = order(0).map { q =>
        span("run/pass0", q, q)(runQuery(q, 0, _.write.mode("overwrite").parquet(s"$outDir/$q")))._1
      }
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracle))

      // Steady passes: `warmupPasses` first (their samples are recorded and
      // marked, the JIT is still settling), then measured passes until at
      // least `minPasses` of them are done and `seconds` have elapsed since
      // the first. The canary runs before each pass and after the last,
      // outside all timing; it is recorded, never used to adjust a metric.
      val steady = ArrayBuffer[Map[String, Any]]()
      var measuredStart = 0L
      var p = 0
      def measuring = p > warmupPasses
      while (p < warmupPasses + minPasses ||
          (System.nanoTime() - measuredStart) / 1e9 < seconds) {
        p += 1
        canary()
        if (p == warmupPasses + 1) measuredStart = System.nanoTime()
        steady ++= order(p).map { q =>
          span(s"run/pass$p", q, q)(runQuery(q, p, _.write.mode("overwrite").format("noop").save()))
            ._1 + ("warmup" -> !measuring)
        }
      }
      canary()
      // Retained heap: full GCs until the context cleaner has released the
      // shuffle and broadcast state the last GC made unreachable.
      dropCachedState()
      val heap = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(300)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }.min

      Map("seed" -> seed, "cores" -> cores, "workload" -> opt("workload"),
        "trace" -> tracer.isDefined, "queries" -> queries,
        "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
          "jdk" -> System.getProperty("java.runtime.version"),
          "spark" -> spark.version, "loadavg_start" -> loadavg),
        "canary_s" -> canaries.toSeq,
        "first_pass" -> first,
        "steady" -> steady.toSeq, "retained_heap_mb" -> heap,
        "tables_probe" -> tables, "failures" -> failures.toSeq, "spans" -> spans.toSeq)
    }
  }
}

/** The result record as JSON; Spark's own Jackson with its Scala module. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
