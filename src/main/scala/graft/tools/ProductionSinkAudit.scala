package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Production-sink streaming audit — closes the one evidence gap the
  * noop-sink state audits leave open: that the state numbers measured
  * under the audit-only noop sink are the numbers a REAL sink sees, and
  * that what the real sink persists is byte-equivalent to the batch
  * answer. This tool drives the two heaviest stateful queries (the q82
  * stream-stream interval join and the q67 flatMapGroupsWithState
  * sessionization) through the `spark.graft.streaming.parquetSinkDir`
  * seam — foreachBatch + idempotent per-batch-overwrite parquet, the q126
  * exactly-once recipe — at big SF, recording per-query:
  *   - StateOperatorProgress peaks (same [[StreamingStateAudit.Sink]]
  *     listener the noop legs use, so the columns are directly
  *     comparable), and
  *   - output equivalence vs an in-Spark BATCH twin of the same
  *     semantics: row count and an order-insensitive content hash
  *     (sum of xxhash64 over canonical-JSON rows), both computed
  *     DISTRIBUTED over the sink files — no driver collection at any SF.
  * The q67 row additionally reports a value-tolerant comparison
  * (max |Δsession_value| over key-joined rows): its session_value is a
  * 4-dp-rounded float SUM, ordered per-session in the stream but
  * partition-ordered in the batch twin, so a boundary-rounding mismatch
  * is a float-associativity artifact, not a correctness defect — the
  * strict hash and the delta column let the reader separate the two.
  *
  * Usage:
  *   runMain graft.tools.ProductionSinkAudit <out.json> <sfDir1,...>
  * Optional env: SPARK_GRAFT_MAX_FILES_PER_TRIGGER=<n> runs the same legs
  * as a CHUNKED backfill (watermark advances between micro-batches, state
  * evicts incrementally); output equivalence must and does survive the
  * chunking — inner-join emission and session timeout firing are
  * watermark-gated but their FINAL emitted set is chunk-invariant. */
object ProductionSinkAudit {

  /** Order-insensitive content hash + row count, fully distributed.
    * The per-row hashes are summed as decimal(38,0) — a plain long sum
    * over ~uniform 64-bit values overflows almost immediately, which is a
    * hard error under ANSI mode. */
  private def countHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.select(xxhash64(to_json(struct(cols: _*)))
        .cast("decimal(38,0)").as("__h"))
      .agg(count(lit(1)), sum(col("__h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }

  /** Batch twin of q82: the plain interval join (inner emission is
    * watermark-independent, so stream output == batch output exactly). */
  private def q82Twin(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("value"))
    c.join(p, col("cu") === col("pu") && col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_timestamp(col("pts")) - unix_timestamp(col("cts")))
          .as("secs_to_purchase"),
        col("value").as("purchase_value"))
  }

  /** Batch twin of q67 — the same gaps-and-islands + final-watermark
    * emission gate the q67 DuckDB oracle encodes (see QueriesPart1's
    * oracle comment for the derivation): emit every session except a
    * user's LAST one whose timeout timestamp has not yet fired at the
    * final watermark (max event ms − gap). */
  private def q67Twin(spark: SparkSession, dir: String): DataFrame = {
    val gapSec = 1800L
    val e = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val x = e
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec,
          1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val sess = x.groupBy("user_id", "session_seq").agg(
      count(lit(1)).as("n_events"),
      min(unix_timestamp(col("ts"))).as("session_start"),
      round(sum(col("value")), 4).as("session_value"),
      max(unix_timestamp(col("ts"))).as("last_ts"))
    val wmMs = e.agg(unix_millis(max(col("ts")))).head().getLong(0) -
      gapSec * 1000
    sess
      .withColumn("max_seq",
        max(col("session_seq")).over(Window.partitionBy("user_id")))
      .filter(col("session_seq") < col("max_seq") ||
        col("last_ts") * 1000 + gapSec * 1000 < wmMs)
      .select("user_id", "session_seq", "n_events", "session_start",
        "session_value")
  }

  def main(args: Array[String]): Unit = {
    val Array(outPath, sfDirsArg) = args.take(2)
    val sfDirs = sfDirsArg.split(",").map(_.trim).filter(_.nonEmpty)

    val sinkDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_prod_sink_audit").getAbsolutePath
    val spark = graft.Session.local(graft.Session.cpus,
      "spark.sql.streaming.streamingQueryListeners" ->
        classOf[StreamingStateAudit.Listener].getName,
      "spark.graft.streaming.parquetSinkDir" -> sinkDir)
    sys.env.get("SPARK_GRAFT_MAX_FILES_PER_TRIGGER").foreach(v =>
      spark.conf.set("spark.graft.streaming.maxFilesPerTrigger", v))

    val legs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q82_stream_stream_join" -> (q82Twin _),
      "q67_sessionize_stateful" -> (q67Twin _))

    val perSf = sfDirs.map { sfDir =>
      val rows = legs.map { case (name, twin) =>
        StreamingStateAudit.drainBus()
        StreamingStateAudit.Sink.reset()
        val t0 = System.nanoTime()
        val sinkResult = graft.SparkEntry.queries(name)(spark, sfDir)
        // the query already ran (parquet sink) — count/hash read the files
        val (sCnt, sHash) = countHash(sinkResult)
        val wall = (System.nanoTime() - t0) / 1e9
        StreamingStateAudit.drainBus()
        val (ops, srows, smem, supd, srem) = StreamingStateAudit.Sink.snapshot()
        val (bCnt, bHash) = countHash(twin(spark, sfDir))
        val valueDelta =
          if (name.startsWith("q67")) {
            val a = sinkResult.select(col("user_id"), col("session_seq"),
              col("session_value").as("sv_a"))
            val b = twin(spark, sfDir).select(col("user_id"),
              col("session_seq"), col("session_value").as("sv_b"))
            val r = a.join(b, Seq("user_id", "session_seq"), "full")
              .agg(max(abs(coalesce(col("sv_a"), lit(Double.MaxValue)) -
                coalesce(col("sv_b"), lit(Double.MaxValue))))).head()
            if (r.isNullAt(0)) 0.0 else r.getDouble(0)
          } else 0.0
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
        val j = s"""{"state_operators":$ops,"state_rows_peak":$srows,""" +
          s""""state_mem_peak_bytes":$smem,"state_rows_updated":$supd,""" +
          s""""state_rows_removed":$srem,"sink_rows":$sCnt,""" +
          s""""batch_twin_rows":$bCnt,"rows_match":${sCnt == bCnt},""" +
          s""""hash_match":${sHash == bHash},""" +
          f""""q67_value_delta_max":$valueDelta%.6f,""" +
          f""""wall_sec":$wall%.4f}"""
        println(s"[prod-sink-audit] $sfDir $name $j")
        s""""$name":$j"""
      }
      s""""$sfDir":${rows.mkString("{", ",", "}")}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      perSf.mkString("{", ",", "}"))
    println(s"[prod-sink-audit] wrote $outPath")
    spark.stop()
  }
}
