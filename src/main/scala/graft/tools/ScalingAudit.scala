package graft.tools

import graft.metrics.QueryMetrics
import org.apache.spark.sql.SparkSession

/** Deterministic scaling audit: run named queries across several SF
  * directories and record per-query TASK METRICS — input bytes, shuffle
  * read/write bytes, memory/disk spill, task count, summed executor CPU —
  * and STREAMING STATE peaks alongside wall clock.
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
  * The `state_*` columns cover what task metrics cannot: the keyed state a
  * stateful streaming operator keeps across micro-batches (peak rows and
  * memory per operator, rows updated/removed summed over batches; 0 for
  * batch queries). They show whether state stays bounded by watermark
  * eviction (healthy) or grows with the whole input (a scale bug at 100 TB).
  *
  * Usage:
  *   runMain graft.tools.ScalingAudit <out.json> <sfDir1,sfDir2,...> <q1,q2,...>
  *
  * Each query runs once UNTIMED per SF (codegen warm-up, page cache), then
  * once measured through [[QueryMetrics.measure]], cache-cold like
  * `graft.Bench`'s timed queries.
  */
object ScalingAudit {

  /** Release a query's leftovers before the next one runs: the
    * lazily-localCheckpointed subtrees (Dedup/Impute) register as
    * persistent RDDs and pin storage memory until their DataFrame objects
    * are GC'd — across a big-SF multi-query leg that accumulation OOM'd
    * the heap (q70@sf10 succeeded standalone, died 8th-in-session).
    * [[graft.Session.dropCachedState]] + a GC hint make each query's
    * measurement start from a clean block manager. */
  private[tools] def release(spark: SparkSession): Unit = {
    graft.Session.dropCachedState(spark)
    System.gc()
  }

  /** One noop-sunk run of `name` at `sfDir`, measured through
    * [[QueryMetrics.measure]]; the query is built inside the measured body,
    * so its construction cost lands in the wall too. */
  private[tools] def measureOnce(spark: SparkSession, name: String,
                                 sfDir: String): QueryMetrics.Snapshot =
    QueryMetrics.measure(spark)(noop(spark, name, sfDir))

  private def noop(spark: SparkSession, name: String, sfDir: String): Unit =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  /** One JSON row: the snapshot's counters, then `extra`, then the wall. */
  private[tools] def row(s: QueryMetrics.Snapshot, extra: (String, Any)*): String =
    (s.counters.toSeq.sortBy(_._1) ++ extra :+ ("wall_sec" -> f"${s.wallSec}%.4f"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Runs `leg(sfDir, name)`, which returns a JSON row, for every SF
    * directory and name, prints each row under `tag`, and writes
    * `{sfDir: {name: row}}` to `outPath`. */
  private[tools] def writeLegs(tag: String, outPath: String, sfDirs: Seq[String],
                               names: Seq[String])(leg: (String, String) => String): Unit = {
    val json = sfDirs.map { sfDir =>
      names.map { name =>
        val j = leg(sfDir, name)
        println(s"[$tag] $sfDir $name $j")
        s""""$name":$j"""
      }.mkString(s""""$sfDir":{""", ",", "}")
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[$tag] wrote $outPath")
  }

  def main(args: Array[String]): Unit = {
    val Array(outPath, sfDirsArg, namesArg) = args.take(3)
    val sfDirs = sfDirsArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val names = namesArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    // audit-scoped knobs (see [[graft.Session]]) — e.g. sizing a big-driver leg:
    //   SPARK_GRAFT_EXTRA_CONF="spark.graft.dedup.broadcastMaxBytes=4294967296,spark.driver.maxResultSize=8g"
    // or a chunked streaming backfill: spark.graft.streaming.maxFilesPerTrigger=N
    val spark = graft.Session.local(graft.Session.cpus)

    // Byte and state metrics are warm-up-independent (they're plan+data
    // properties); only wall clock benefits from a warm codegen cache. The
    // warm-up run DOUBLES the cost of a big-SF leg, so it's skippable when
    // only the deterministic columns matter: SPARK_GRAFT_AUDIT_WARMUP=0.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_AUDIT_WARMUP", "1") != "0"
    writeLegs("scaling-audit", outPath, sfDirs, names) { (sfDir, name) =>
      // the warm-up's layout checkpoints must not carry into the
      // measured run: it would ride them and skip their construction
      if (warmup) { noop(spark, name, sfDir); release(spark) }
      val s = measureOnce(spark, name, sfDir)
      release(spark)
      row(s)
    }
    spark.stop()
  }
}
