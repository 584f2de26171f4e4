package graft

import org.apache.spark.sql.functions._

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line `{"metric":...,"queries":{...},"sf":...}`.
  *
  * Methodology:
  *  - every query runs once untimed first: whole-stage codegen compiles a
  *    generated class per query shape on first use (~1-1.5s each), which
  *    is JIT cost, not execution cost — timings report steady state;
  *  - results go to the `noop` datasource, which forces full evaluation of
  *    every output column — `.count()` would let Catalyst prune the very
  *    projections being measured.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)

    def runNoop(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    // Optional focus list for local iteration (comma-separated prefixes);
    // unset → all queries, which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }

    // Warm-up: every query once, untimed (compiles its codegen'd classes).
    selected.keys.foreach { name =>
      try runNoop(name) catch { case _: Throwable => () }
    }

    // Canary: a fixed CPU-bound probe (no IO, no shuffle — xxhash64 over a
    // range, constant work every sample) interleaved every CANARY_EVERY
    // queries. The box shows intermittent multi-second slow windows
    // (hypervisor steal) that land on whichever contiguous query band is
    // running and fake a 2-4x regression; six rounds of adjudication
    // inferred those windows ACROSS runs. The canary curve measures them
    // INSIDE the artifact: a flagged query whose neighboring canary
    // samples are inflated was measured in a slow window (see the
    // "Canary policy" block in BASELINE.md).
    val canaryEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "25").toInt
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, cpus)
        .select(bit_xor(xxhash64(col("id"))).as("h")) // xor: no ANSI overflow
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce() // warm-up: compile the canary's codegen class, untimed

    // A query that throws records the -1 sentinel (excluded from the total)
    // and lands in `failed` — a broken query must never read as "fast".
    // The suite runs as TWO full passes and reports each query's minimum:
    // the two measurements of one query sit a full pass apart, so a single
    // slow window can't poison both.
    val canaries = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def pass(p: Int): Seq[(String, Double)] =
      selected.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, _), i) =>
        if (i % canaryEvery == 0) canaries += (s"p$p:$name" -> canaryOnce())
        // every timed query starts cache-cold (r18); the drop is
        // bookkeeping for the PREVIOUS query, so it runs outside the timer
        Session.dropCachedState(spark)
        val t0 = System.nanoTime()
        val ok = try { runNoop(name); true } catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // SPARK_GRAFT_PASSES=1 drops the second pass — for one-shot scaling
    // audits (e.g. the sf1 run, where a pass costs ~10× sf0.1) where the
    // noise-suppression min matters less than wall-clock. Default (and
    // everything the driver or the gate consumes) stays 2.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val passes = (1 to math.max(1, nPasses)).map(p => pass(p))
    val results = passes.transpose.map { ms =>
      // a failure in ANY pass keeps the sentinel (min would hide it)
      val name = ms.head._1
      val ts = ms.map(_._2)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toSeq
    // 4-decimal seconds (0.1 ms resolution — far below run-to-run noise):
    // raw doubles print ~17 chars each and in round 7 pushed the line past
    // the driver's stdout-tail capture, losing q01-q24's timings.
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Record the active focus filter so bench_gate can refuse a partial
    // run that would otherwise read as a green full gate. Env values are
    // JSON-escaped — a quote/backslash/control char in the filter (or the
    // sf path) must not emit an unparseable line.
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val onlyJson = only.map(s => jstr(s.mkString(","))).getOrElse("null")
    // canary samples keyed "p<pass>:<query it preceded>" — the in-artifact
    // slow-window record; median first so a tail-truncated read still has
    // the run's reference level.
    val canaryMed = {
      val ts = canaries.map(_._2).sorted
      if (ts.isEmpty) 0.0 else ts(ts.size / 2)
    }
    val canaryJson = canaries
      .map { case (k, v) => jstr(k) + ":" + sec(v) }
      .mkString(s"""{"every":$canaryEvery,"median":${sec(canaryMed)},"samples":{""", ",", "}}")
    val line =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","only":$onlyJson,"queries":$qs,"failed":$failed,"canary":$canaryJson,"sf":${jstr(sfDir)}}"""
    // The driver captures only the last ~2000 bytes of stdout; at 172
    // queries the single full line is ~5 KB, so a lone println loses its
    // head (r6) or truncates unparseably (r8). Emit three layers:
    //   1. per-query map split into <1500-byte JSON lines (self-describing
    //      chunks — any that land in the tail are individually parseable);
    //   2. the full one-line record (spec'd contract, and what
    //      bench_gate/BENCH_LOCAL.json consume);
    //   3. LAST, a compact summary line with the headline total + failed
    //      list, small enough that the tail always captures it whole.
    val chunks = {
      val parts = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer[String]())
      results.foreach { case (k, v) =>
        val ent = "\"" + k + "\":" + sec(v)
        if (parts.last.map(_.length + 1).sum + ent.length > 1400)
          parts += scala.collection.mutable.ArrayBuffer[String]()
        parts.last += ent
      }
      parts.toSeq.map(_.mkString("{", ",", "}"))
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"queries_part":${i + 1},"of":${chunks.size},"queries":$c}""")
    }
    println(line)
    val summary =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","only":$onlyJson,"nqueries":${results.size},"failed":$failed,"canary_median":${sec(canaryMed)},"sf":${jstr(sfDir)}}"""
    println(summary)
    // The file artifact is the truncation-proof full copy — bench_gate
    // reads either. A SPARK_GRAFT_ONLY run writes to a separate file so a
    // local focused iteration can never clobber the committed full-run
    // artifact with a partial one.
    val artifact = if (only.isEmpty) "BENCH_LOCAL.json" else "BENCH_LOCAL_PARTIAL.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(artifact), line + "\n")
    spark.stop()
    // A run with crashed queries must not read as a green driver run.
    if (results.exists(_._2 < 0)) sys.exit(3)
  }
}
