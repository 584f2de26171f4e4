package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators over the `events` table (SURVEY.md §2.11:
  * the reference is batch-only, but the cleaning/aggregation surface is
  * re-expressed over streams for free; this module makes that concrete).
  *
  * Design: event-time tumbling-window aggregation with a watermark — the
  * canonical streaming shape. State is keyed by (window, event_type), so
  * partitioning matches the shuffle key and state size is bounded by the
  * watermark horizon regardless of input rate.
  */
object EventsStream {

  /** Runs `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `spark.graft.streaming.statePartitions` (default 8). Streaming STATE
    * partitioning is fixed per query from that conf at start, and every
    * microbatch commits partitions × state-stores files (a stream-stream
    * join keeps 4 stores per partition), so inheriting a batch-sized
    * shuffle width pays pure filesystem overhead on state that is orders
    * of magnitude smaller than the batch shuffles the width was chosen
    * for. Measured at sf0.1/local[32]: q82 7.0 s → 2.8 s, q67 2.5 → 1.4,
    * q77 2.9 → 1.9, q29 1.8 → 1.1. At real scale the same principle
    * holds — size state partitions to state volume, not CPU count; set
    * the conf per workload. The width is scoped to a CLONED session (the
    * stream source, query and memory sink all live on the clone), so a
    * batch query planned concurrently on the caller's session can never
    * inherit it. */
  private def withStateSession[T](spark: SparkSession)(body: SparkSession => T): T = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      spark.conf.getOption("spark.graft.streaming.statePartitions").getOrElse("8"))
    // propagate the backfill-chunking knob the same way: a runtime set on
    // the caller's session must reach the cloned session the stream
    // source is planned on
    spark.conf.getOption("spark.graft.streaming.maxFilesPerTrigger")
      .foreach(v => s.conf.set("spark.graft.streaming.maxFilesPerTrigger", v))
    spark.conf.getOption("spark.graft.streaming.auditNoopSink")
      .foreach(v => s.conf.set("spark.graft.streaming.auditNoopSink", v))
    spark.conf.getOption("spark.graft.streaming.parquetSinkDir")
      .foreach(v => s.conf.set("spark.graft.streaming.parquetSinkDir", v))
    body(s)
  }

  /** Drive `out` as a synchronous AvailableNow stream named `qname` and
    * return its result table — the shared runner behind every streaming
    * query in this module (stops a stale same-name query first, so
    * re-invocation in one session is idempotent).
    *
    * SINK SEAM: the harness contract returns the stream's output as a
    * DataFrame, which the default MEMORY sink collects on the driver —
    * exactly right at oracle scale, and a driver-heap bomb on a big-SF
    * audit leg (q67's append output ≈ the event count; at sf100 that is
    * tens of GB of boxed rows in one JVM). With
    * `spark.graft.streaming.auditNoopSink=true` (audit-only) the stream
    * writes to the `noop` streaming sink and an EMPTY frame with the
    * output schema is returned: every source read, shuffle, and state
    * transition still executes identically — only the driver-side result
    * collection is elided, which is what lets ScalingAudit measure
    * state at SFs whose full output no single JVM should hold. A real
    * deployment writes to a real sink (files/Kafka) and sees neither. */
  private def runAvailableNow(s: SparkSession, qname: String,
                              out: Dataset[_], mode: String,
                              skipNoDataBatch: Boolean = false): DataFrame = {
    s.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    // r18 (VERDICT r17 #2): COMPLETE-mode aggregation streams re-run a
    // trailing NO-DATA micro-batch after the data batch (watermark
    // advancement), whose only output effect is re-emitting the identical
    // full result into the sink — in complete mode the watermark gates
    // state EVICTION, never what the aggregation emits. Callers that are
    // complete-mode aggregations pass skipNoDataBatch = true and save one
    // full state-store load/commit round plus one full sink rewrite per
    // query. NOT safe for append mode (the no-data batch performs the
    // watermark-gated emission: sealed windows, outer-join nulls) or for
    // stateful timeouts (q67's sessions flush on it) — those callers keep
    // the default. Scoped to the CLONED state session, never the caller's.
    if (skipNoDataBatch)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // .toBoolean, not == "true": Spark's own boolean confs are
    // case-insensitive, and a silently-ignored "True" would send a big-SF
    // audit leg back through the memory sink to a driver OOM hours in —
    // unrecognized spellings fail loudly here instead
    val noop = s.conf.getOption("spark.graft.streaming.auditNoopSink")
      .exists(v => scala.util.Try(v.trim.toBoolean).getOrElse(
        throw new IllegalArgumentException(
          s"spark.graft.streaming.auditNoopSink must be true/false, got '$v'")))
    // PRODUCTION FILE SINK: with `spark.graft.streaming.parquetSinkDir=<d>`
    // every streaming query routes through foreachBatch + the q126
    // idempotent per-batch-overwrite recipe (exactly-once on retry: a
    // replayed batch rewrites its own deterministic path) instead of the
    // driver-collecting memory sink, and the returned DataFrame is the
    // relation READ BACK from the sink files — fully distributed, so the
    // contract survives SFs whose output no single JVM should hold. For
    // append-mode queries each micro-batch owns a `batch=<id>` directory
    // and the union of directories is the stream's total output; for
    // complete-mode queries every batch overwrites one `latest` directory
    // and the final batch's full result is the answer. The noop audit
    // sink, when also set, wins — it exists to elide ALL output cost.
    val parquetBase = s.conf
      .getOption("spark.graft.streaming.parquetSinkDir")
      .filter(_.nonEmpty).filter(_ => !noop)
      .map(d => s"$d/$qname")
    parquetBase.foreach { base =>
      require(mode == "append" || mode == "complete",
        s"parquetSinkDir supports append/complete output, got '$mode'")
      // fresh contract per invocation: batch COUNT varies with the
      // backfill-chunking knob, so stale higher-id dirs from a previous
      // run must not leak into this run's union (within-run retries still
      // overwrite their own dir — that is the exactly-once story)
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(p, true)
    }
    val q = (parquetBase match {
      case Some(base) =>
        out.toDF().writeStream
          .outputMode(mode)
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            val dest = if (mode == "complete") s"$base/latest"
                       else s"$base/batch=$batchId"
            df.write.mode("overwrite").parquet(dest)
          }
      case None => out.writeStream
        .outputMode(mode)
        .format(if (noop) "noop" else "memory")
    })
      .queryName(qname)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (noop)
      // a LocalRelation (statically empty), NOT an emptyRDD-backed frame:
      // PropagateEmptyRelation can collapse downstream batch joins against
      // it (windowedApproxDistinct's exact side, heavy hitters' recount),
      // so the audit's noop write doesn't re-scan the corpus to produce an
      // output known a priori to be empty
      s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), out.schema)
    else parquetBase match {
      case Some(base) =>
        val src = if (mode == "complete") s"$base/latest" else s"$base/batch=*"
        val fs = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(s.sessionState.newHadoopConf())
        if (fs.globStatus(new org.apache.hadoop.fs.Path(src)) == null ||
            fs.globStatus(new org.apache.hadoop.fs.Path(src)).isEmpty)
          s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            out.schema)
        // drop the partition column Spark infers from the batch=<id>
        // directory names — the contract schema is the query's own
        else s.read.parquet(src).drop("batch")
      case None => s.table(qname)
    }
  }

  /** Streaming scan of the events table, LAYOUT-AGNOSTIC: the harness SF
    * dirs store events as a single parquet FILE named `events.parquet`
    * inside `dir` (the file-stream source wants a directory, so glob-filter
    * the listing), while any Spark-written layout — ScaleUp output, a real
    * ingest directory — stores `events.parquet/` as a DIRECTORY of part
    * files, which the source should stream directly. The r15 streaming
    * state audit caught the glob form matching ZERO files on directory
    * layouts: an empty stream "completes" successfully, so the mismatch
    * was silent. Timestamps are normalized by the same
    * [[graft.Tables.normalizeTs]] seam as the batch reader. */
  private def eventsStreamSource(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.eventsRawSchema(s, dir)
    // Layout detection goes through the Hadoop FileSystem for `dir`'s
    // scheme, NOT java.io.File — a local-FS check against an hdfs:// or
    // s3a:// URI is always false, which would silently re-create the
    // zero-file empty stream on exactly the remote ingest directories the
    // directory branch exists for.
    val sub = new org.apache.hadoop.fs.Path(dir, "events.parquet")
    val fs = sub.getFileSystem(s.sessionState.newHadoopConf())
    val subIsDirectory =
      try fs.getFileStatus(sub).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    // Bounded-state BACKFILL replay: AvailableNow honors source rate
    // limits, so `spark.graft.streaming.maxFilesPerTrigger` splits a
    // historical replay into N-file micro-batches — the watermark then
    // advances BETWEEN chunks and stream-stream join / windowed state is
    // evicted incrementally instead of peaking at the whole backfill
    // (measured in BASELINE.md "streaming state audit"). Correctness
    // contract: the source replays files in MODIFICATION-TIME order, so
    // mtimes must track event time — true of real ingest directories
    // (files arrive over time; tools/TimeOrderEvents stamps an existing
    // layout) but NOT of one parallel Spark write, whose partitions
    // finish in arbitrary order (rows behind the advanced watermark
    // would be dropped as late). Default unset = single-batch replay,
    // exact on any layout.
    val base = s.conf.getOption("spark.graft.streaming.maxFilesPerTrigger")
      .foldLeft(s.readStream.schema(schema))(
        (b, v) => b.option("maxFilesPerTrigger", v))
    (if (subIsDirectory)
       base.option("pathGlobFilter", "*.parquet").parquet(sub.toString)
     else base.option("pathGlobFilter", "events.parquet").parquet(dir))
      .transform(graft.Tables.normalizeTs)
  }

  /** Tumbling 1-hour windowed counts/sums per event_type, run synchronously
    * over the static parquet as a single-batch stream (memory sink,
    * `processAllAvailable`). Returns the full ("complete"-mode) result,
    * identical to the equivalent batch aggregation — which is exactly what
    * the correctness oracle checks. */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      // The streaming file source wants a directory; narrow to the events
      // table with a glob filter rather than copying the file anywhere.
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      val qname = "graft_windowed_counts"
      runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true)
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"),
          col("cnt"),
          round(col("sum_value"), 4).as("sum_value"))
    }
  }

  /** Sliding (overlapping) windows — [[windowedCounts]] with a 2 h window
    * every 1 h, so each event lands in exactly TWO windows: the rate
    * smoothing every dashboard wants from a stream. Same watermark,
    * complete-mode memory sink, and batch-equivalence contract (the
    * oracle assigns each event to both its covering windows and must
    * match window for window). */
  def slidingWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      val qname = "graft_sliding_window_counts"
      runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true)
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"),
          col("cnt"),
          round(col("sum_value"), 4).as("sum_value"))
    }
  }

  /** The scale-correct variant of [[windowedCounts]]: APPEND output mode,
    * so state is bounded by the watermark horizon — "complete" mode keeps
    * every window ever seen alive, which is fine for the harness
    * equivalence check but unbounded on an infinite stream. Only windows
    * sealed by the watermark are emitted; with a single AvailableNow batch
    * over static data that is every window except the stream's last one.
    */
  def windowedCountsAppend(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      val qname = "graft_windowed_counts_append"
      runAvailableNow(s, qname, agg, "append")
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"),
          col("cnt"),
          round(col("sum_value"), 4).as("sum_value"))
    }
  }

  /** Streaming approximate distinct users per (1-hour window, event_type)
    * via an HLL sketch aggregate — COUNT(DISTINCT) is unsupported in
    * streaming aggregations for a reason (its state is the value set,
    * unbounded per key); the sketch is the production answer: O(2^lgK)
    * bytes of MERGEABLE state per key regardless of cardinality, the same
    * across-micro-batch merge the q187 rollup does across sources.
    *
    * Oracle surface (the q40/q187 device): the estimate is engine-internal,
    * so the emitted row is the BATCH-exact distinct count per window plus
    * the boolean that the streaming sketch's estimate lands within 5 %
    * (lgK=12 ⇒ ~1.6 % rse, 3× margin). The exact side is computed in batch
    * — it is the verification cost, not the operator cost. */
  def windowedApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("__sk"))
      val qname = "graft_windowed_approx_distinct"
      val est = runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true)
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"),
          hll_sketch_estimate(col("__sk")).as("__est"))
      val exact = graft.Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("exact_users"))
      exact.join(est, Seq("win_start", "event_type"))
        .select(col("win_start"), col("event_type"), col("exact_users"),
          (abs(col("__est") - col("exact_users").cast("double")) <=
            col("exact_users").cast("double") * 0.05).as("est_ok"))
    }
  }

  /** Exactly-once file sink via `foreachBatch` + idempotent per-batch
    * overwrite — the production answer to "a micro-batch can be retried":
    * each batch writes to a DETERMINISTIC path keyed by its batch id with
    * mode=overwrite, so a replayed batch replaces its own previous
    * (possibly partial) output instead of appending a duplicate. Combined
    * with checkpointed offsets this is the standard exactly-once recipe
    * for file sinks; here the retry is SIMULATED by running the whole
    * AvailableNow stream twice without a checkpoint (batch ids restart at
    * 0, so the second run rewrites the same directories) — if the sink
    * appended, every row would double and the q126 oracle hash would
    * catch it.
    *
    * Returns the relation read back from the sink files — the oracle
    * compares it to the equivalent batch aggregation. */
  def idempotentSinkCounts(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      // keyed by input dir: runs against different SF dirs never share a
      // sink path (each run still overwrites ITS path idempotently)
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_idem_sink_${dir.hashCode.toHexString}").getAbsolutePath
      def runOnce(): Unit = {
        val src = eventsStreamSource(s, dir)
        val agg = src
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
        val q = agg.writeStream
          .outputMode("complete")
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.write.mode("overwrite").parquet(s"$out/batch=$batchId")
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      runOnce() // the simulated retry: same batch ids, same paths, no dupes
      s.read.parquet(s"$out/batch=*")
        .select(
          unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"),
          col("cnt"),
          round(col("sum_value"), 4).as("sum_value"))
    }
  }

  /** Streaming exact dedup via `dropDuplicatesWithinWatermark(keys)` —
    * the streaming twin of the batch P2/P3 operators and the shape a
    * continuously-ingesting training pipeline needs. Plain
    * `dropDuplicates(keys)` would NEVER evict state when the event-time
    * column is not part of the key (the watermark only bounds state for
    * keys it can expire), so on an unbounded stream its state grows
    * without bound; the WithinWatermark variant expires each key once the
    * watermark passes its event time + delay, making state proportional
    * to the key arrival rate × horizon. The honest contract is therefore
    * "exactly-once within the watermark delay": a duplicate arriving
    * after its key's state expired is re-emitted. In the AvailableNow
    * harness everything lands in one microbatch (watermark still at
    * epoch, no eviction mid-batch), so the result equals full batch
    * distinct — which is what the oracle checks. Returns deduped per-type
    * counts: with a key coarser than the event id the surviving-row
    * CONTENT depends on arrival order, but the per-type survivor count is
    * exactly the distinct key count — deterministic, hence oracle-able. */
  def dedupStreamCounts(spark: SparkSession, dir: String,
                        keys: Seq[String] = Seq("event_id")): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(keys)
      val qname = "graft_dedup_stream"
      runAvailableNow(s, qname,
        src.groupBy(col("event_type")).agg(count(lit(1)).as("cnt")), "complete",
        skipNoDataBatch = true)
    }
  }

  /** Stream–static broadcast join — the canonical streaming ENRICHMENT
    * shape: an unbounded event stream joined per-microbatch against a
    * bounded dimension/profile table. The static side here is a per-user
    * profile aggregated in batch (count + value total); the stream side is
    * the raw event feed. A stream-static inner join is STATELESS (the
    * static side is re-broadcast per microbatch, no watermark or join
    * state), so append mode emits every enriched event exactly once — at
    * scale the only cost above the stream scan is the broadcast, sized by
    * the dimension, not the stream.
    *
    * Returns every event enriched with its user's profile, via one
    * AvailableNow batch for equivalence against the batch join oracle. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val profile = broadcast(
      graft.Tables.events(spark, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("user_cnt"), sum(col("value")).as("user_total")))
    val src = eventsStreamSource(spark, dir)
    val joined = src.join(profile, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("user_cnt"),
        round(col("user_total"), 4).as("user_total"))
    val qname = "graft_stream_static"
    runAvailableNow(spark, qname, joined, "append")
  }

  /** Stream–stream event-time INTERVAL join — the canonical two-unbounded-
    * sides shape (click → purchase attribution within an hour). Both sides
    * carry watermarks and the join condition bounds purchase_ts to
    * [click_ts, click_ts + 1h], so each side's buffered state is evicted
    * once the other side's watermark passes the interval bound — state is
    * O(events per horizon), not O(stream history), on both sides. Inner
    * joins emit a match as soon as both rows have arrived (the watermark
    * gates only eviction and outer-null emission), so one AvailableNow
    * batch over static data emits exactly the batch interval-join — which
    * is what the oracle checks. Epoch seconds are floored on both engines
    * (the q29/q31 parity rule). */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      def src = eventsStreamSource(s, dir)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("value"))
      val joined = streamStreamJoinOn(clicks, purchases)
      val qname = "graft_stream_stream"
      runAvailableNow(s, qname, joined, "append")
    }
  }

  /** The watermarked join core of [[streamStreamJoin]], on any pair of
    * streams shaped (c_user, click_id, click_ts) / (p_user, purchase_id,
    * purchase_ts, value) — separated so tests can drive it across MULTIPLE
    * microbatches (MemoryStream), where cross-batch matching and
    * watermark-driven state eviction are actually reachable.
    *
    * `joinType = "leftOuter"` adds the watermark-gated null emissions: an
    * unmatched click emits (nulls) only once the watermark passes the END
    * of its join interval (click_ts + 1h) — i.e. final watermark
    * maxTs − 1h ⇒ nulls exactly for unmatched clicks with
    * click_ts < maxTs − 2h. That gate is deterministic, which is what
    * makes the q95 oracle expressible in batch SQL; clicks nearer the
    * stream head stay buffered (they could still match a future
    * purchase) and emit nothing — the honest streaming contract. */
  def streamStreamJoinOn(clicks: DataFrame, purchases: DataFrame,
                         joinType: String = "inner"): DataFrame =
    clicks.withWatermark("click_ts", "1 hour")
      .join(purchases.withWatermark("purchase_ts", "1 hour"),
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        joinType)
      .select(
        // coalesce matters only for fullOuter's right-only rows (c_user
        // null there); inner/leftOuter always have c_user
        coalesce(col("c_user"), col("p_user")).as("user_id"),
        col("click_id"), col("purchase_id"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("click_ts")))
          .as("secs_to_purchase"),
        col("value").as("purchase_value"))

  /** [[streamStreamJoin]] with fullOuter semantics — null emission gated
    * per side: an unmatched click once the watermark passes click_ts + 1h
    * (its interval END), an unmatched purchase once it passes purchase_ts
    * (a purchase only matches clicks AT OR BEFORE it, so its state is
    * final as soon as the watermark reaches its own event time). Both
    * gates are deterministic — the q101 oracle replays them in batch
    * SQL. */
  def streamStreamFullJoin(spark: SparkSession, dir: String): DataFrame =
    streamStreamOuter(spark, dir, "fullOuter", "graft_stream_stream_full")

  /** [[streamStreamJoin]] with leftOuter semantics — one AvailableNow
    * batch; see [[streamStreamJoinOn]] for the null-emission gate. */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame =
    streamStreamOuter(spark, dir, "leftOuter", "graft_stream_stream_left")

  private def streamStreamOuter(spark: SparkSession, dir: String,
                                joinType: String, qname: String): DataFrame = {
    withStateSession(spark) { s =>
      def src = eventsStreamSource(s, dir)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("value"))
      val joined = streamStreamJoinOn(clicks, purchases, joinType)
      runAvailableNow(s, qname, joined, "append")
    }
  }

  /** The cleaning operators applied over a STREAM (SURVEY.md §2.11: the
    * batch cleaning pipeline is structurally expressible over Structured
    * Streaming): blank-normalize + winsorize are stateless row maps, so
    * they compose onto readStream unchanged. Returns the cleaned rows via
    * a single AvailableNow batch for equivalence checking. */
  def cleanStream(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStreamSource(spark, dir)
    val cleaned = graft.operators.Cleaning.winsorize(
      graft.operators.Cleaning.normalizeBlanks(src.toDF(), Seq("props", "event_type")),
      "value", 400.0, 300.0)
    val qname = "graft_clean_stream"
    runAvailableNow(spark, qname, cleaned, "append")
  }

  /** Batch gap-based sessionization (lag + running sum windows); the
    * streaming-native stateful variant is [[sessionizeStateful]]. A new
    * session starts when the user is idle > gapMinutes. */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("session_start"),
        round(sum(col("value")), 4).as("session_value"))
  }

  /** Streaming sessionization via the BUILT-IN `session_window` — the
    * declarative twin of [[sessionizeStateful]]'s hand-rolled
    * flatMapGroupsWithState: Spark merges overlapping [ts, ts+gap)
    * windows itself, state is managed by the engine, and complete-mode
    * output emits every session of the AvailableNow batch. Boundary
    * semantics differ from [[sessionize]]'s strict-> rule: windows merge
    * only while the next event lands BEFORE session end, so a gap of
    * exactly `gapMinutes` STARTS a session (>= rule) — the oracle
    * mirrors that with an epoch-micro >= comparison. */
  def sessionWindowCounts(spark: SparkSession, dir: String,
                          gapMinutes: Int = 30): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("session_value"))
      val qname = "graft_session_window"
      runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true).select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("session_value"))
    }
  }

  /** DYNAMIC-gap session windows — [[sessionWindowCounts]] with the gap
    * as a per-event expression (purchases hold a session open for 60 min,
    * everything else 30 min): the "intent-aware timeout" shape
    * session_window grew in Spark 3.2+. Merge semantics match the fixed
    * case: each event claims [ts, ts+gap) and overlapping claims fuse, so
    * the batch oracle's break rule is ts ≥ running-max of previous
    * (ts + gap) — the q238 boundary convention generalized. */
  def dynamicSessionCounts(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      // session_window's dynamic gap wants CalendarIntervalType — string
      // literals cast there; ANSI INTERVAL syntax yields DayTimeInterval,
      // which it rejects
      val gap = when(col("event_type") === "purchase",
        lit("60 minutes")).otherwise(lit("30 minutes"))
        .cast("interval")
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("session_value"))
      val qname = "graft_dynamic_session"
      runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true).select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start"),
        col("n_events"), col("session_value"))
    }
  }

  case class SessionEvent(user_id: Long, event_id: Long, tsSec: Long, value: Double,
                          ts: java.sql.Timestamp)
  case class SessionState(seq: Long, lastTsSec: Long,
                          n: Long, startSec: Long, total: Double)
  case class SessionOut(user_id: Long, session_seq: Long, n_events: Long,
                        session_start: Long, session_value: Double)

  /** Streaming-native stateful sessionization: per-user state via
    * `flatMapGroupsWithState` with an event-time timeout. A session closes
    * (and is emitted) when the user is idle past the gap relative to the
    * watermark; state is one small record per active user, bounded by the
    * watermark horizon regardless of history length — the canonical
    * KeyValueGroupedDataset custom-state shape.
    *
    * Run over the static events table it emits exactly the provably-closed
    * sessions of [[sessionize]]: every non-last session per user (closed
    * inline by the gap rule), plus each user's last session iff its
    * event-time timeout fires under the terminal watermark
    * (last_ts + gap < maxTs - gap). Still-open sessions do NOT flush —
    * that is the semantics, not a bug: a restarted stream must be able to
    * extend them. The q67 oracle mirrors this predicate in SQL. */
  def sessionizeStateful(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    withStateSession(spark) { s =>
      import s.implicits._
      val src = eventsStreamSource(s, dir)
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("tsSec"),
          col("value"), col("ts"))
        .withWatermark("ts", s"$gapMinutes minutes")
        .as[SessionEvent]

      val qname = "graft_sessions_stateful"
      runAvailableNow(s, qname, sessionizeStatefulOn(src, gapMinutes * 60L),
        "append")
        .withColumn("session_value", round(col("session_value"), 4))
    }
  }

  /** The stateful core of [[sessionizeStateful]], on any watermarked
    * [[SessionEvent]] stream — separated so tests can drive it across
    * MULTIPLE microbatches (MemoryStream), where the timeout/marker
    * transitions are actually reachable. */
  def sessionizeStatefulOn(src: Dataset[SessionEvent],
                           gapSec: Long): Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import src.sparkSession.implicits._

    def fn(userId: Long, events: Iterator[SessionEvent],
           state: GroupState[SessionState]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var st = state.getOption.orNull
      // within a microbatch, order by event time (+id) like the batch form
      events.toSeq.sortBy(e => (e.tsSec, e.event_id)).foreach { e =>
        st match {
          case null =>
            st = SessionState(1L, e.tsSec, 1L, e.tsSec, e.value)
          case s if s.n == 0L =>
            // zero-event marker left by a timed-out session: the user came
            // back, so the next session continues the numbering after it
            st = SessionState(s.seq + 1, e.tsSec, 1L, e.tsSec, e.value)
          case s if e.tsSec - s.lastTsSec > gapSec =>
            out += SessionOut(userId, s.seq, s.n, s.startSec, s.total)
            st = SessionState(s.seq + 1, e.tsSec, 1L, e.tsSec, e.value)
          case s =>
            st = SessionState(s.seq, e.tsSec, s.n + 1, s.startSec, s.total + e.value)
        }
      }
      if (state.hasTimedOut && st != null && st.n > 0L) {
        out += SessionOut(userId, st.seq, st.n, st.startSec, st.total)
        // Keep a zero-event marker holding the last seq (instead of
        // state.remove()) so a user who returns AFTER a timeout continues
        // session_seq monotonically like the batch twin, rather than
        // restarting at 1 and colliding with already-emitted sessions.
        // Cost: one ~40-byte state row per user ever seen — bounded by
        // user cardinality rather than the watermark horizon; no timeout
        // is registered on the marker, so it never re-fires.
        state.update(SessionState(st.seq, st.lastTsSec, 0L, 0L, 0.0))
      } else if (st != null && st.n > 0L) {
        state.update(st)
        state.setTimeoutTimestamp(st.lastTsSec * 1000 + gapSec * 1000)
      }
      out.iterator
    }

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming heavy hitters — the lambda shape: a per-window SpaceSaving
    * sketch ([[graft.functions.SpaceSavingTopK]]) runs as the STREAMING
    * aggregate (the TypedImperativeAggregate's serialized buffer IS the
    * streaming state: one O(k) counter map per open window, regardless of
    * key cardinality — exact per-key windowed counts would instead hold
    * every key ever seen), and the emitted candidate set gets the q98
    * batch recount for exact counts.
    *
    * The composition is EXACT, not approximate: any key with windowed
    * frequency > n/k survives in the sketch (SpaceSaving's superset
    * guarantee, preserved under the mergeable-summaries merge), so with
    * k ≥ 200 the candidate list provably contains every 0.5% heavy
    * hitter; the recount of that broadcast candidate set then yields
    * exact counts — which is what the oracle computes from scratch. */
  def windowedHeavyHitters(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    require(k >= 200, s"k >= 200 keeps the n/200 threshold inside the sketch guarantee, got $k")
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(graft.functions.SpaceSavingTopK(col("user_id"), k).as("sk"),
          count(lit(1)).as("n"))
      val qname = "graft_windowed_heavy_hitters"
      val cand = runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true)
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("n"), explode(col("sk")).as("c"))
        .select(col("win_start"), col("c.item").as("user_id"), col("n"))
      // Exact recount of the (windows × k)-bounded candidate set: the
      // corpus is scanned once, semi-joined against the broadcast
      // candidates, and only candidate keys are counted.
      val evW = graft.Tables.events(s, dir)
        .select(unix_timestamp(window(col("ts"), "1 hour")
          .getField("start")).as("win_start"), col("user_id"))
      evW.join(broadcast(cand.select("win_start", "user_id")),
          Seq("win_start", "user_id"))
        .groupBy("win_start", "user_id").agg(count(lit(1)).as("cnt"))
        .join(broadcast(cand.select("win_start", "n").distinct()), "win_start")
        .filter(col("cnt") * 200 > col("n"))
        .select("win_start", "user_id", "cnt")
    }
  }

  /** Streaming windowed p95 by BOUNDED-HISTOGRAM state. An exact
    * streaming quantile needs the window's full value set (unbounded
    * state, structurally unsupported); the stream instead keeps one
    * integer-bin histogram per (window, event_type) — state O(bins),
    * counts merge across micro-batches — and the p95-of-bins readout
    * (smallest bin whose cumulative count reaches ceil(0.95·n)) is all
    * integer arithmetic, so the batch oracle replays it EXACTLY: no
    * sketch-estimate tolerance seam (contrast q208's HLL bound check).
    * Bin = floor(value): ≲600 live bins per key at this data's range;
    * a deployment would scale/clamp the bin transform to its domain. */
  def windowedQuantile(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"),
          floor(col("value")).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
      val qname = "graft_windowed_quantile"
      val hist = runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true)
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("bin"), col("c"))
      // Finalize over the (windows × types × bins)-bounded histogram
      // table — windows are partitioned per key, never corpus-wide.
      // Single lineage (cum + total via two frames of one partition
      // spec), no self-join of the memory-sink relation.
      val per = org.apache.spark.sql.expressions.Window
        .partitionBy("win_start", "event_type")
      hist
        .withColumn("cum", sum(col("c")).over(per.orderBy("bin")))
        .withColumn("n_events", sum(col("c")).over(per))
        .filter(col("cum") >= ceil(col("n_events") * lit(0.95)).cast("long"))
        .groupBy("win_start", "event_type", "n_events")
        .agg(min(col("bin")).as("p95_bin"))
        .select(col("win_start"), col("event_type"), col("n_events"),
          col("p95_bin"))
    }
  }

  /** Streaming latest-per-key upsert view (CDC materialization): the
    * stream folds into "current row per user" with one streaming
    * max(struct) agg — state is ONE struct per key (bounded by key
    * cardinality, the sessionize bound), merges across micro-batches,
    * and needs no ordering guarantee from the source because the struct
    * comparison (ts, then event_id) is a total order. The batch oracle
    * is the same argmax replayed with a per-user window. */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      val src = eventsStreamSource(s, dir)
      val agg = src
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("tsu"), col("event_id"),
            col("event_type"), col("value")).as("rec"))
        .groupBy("user_id").agg(max(col("rec")).as("last"))
      val qname = "graft_latest_per_key"
      runAvailableNow(s, qname, agg, "complete", skipNoDataBatch = true).select(col("user_id"),
        col("last.tsu").as("last_tsu"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"))
    }
  }

  case class ZEvent(user_id: Long, event_id: Long, tsMicros: Long, value: Double)
  case class ZState(ring: List[Double])
  case class ZOut(event_id: Long, user_id: Long, n_win: Long,
                  zscore: Option[Double])

  /** Streaming rolling z-score — the stateful stream twin of the batch
    * q152 window: each event scored against its user's PRIOR ≤16 values,
    * held as a ring buffer in `flatMapGroupsWithState` state (~128 bytes
    * per user ever seen — bounded by user cardinality, like the
    * sessionize seq marker; an event-time timeout could reclaim idle
    * users if that bound mattered).
    *
    * Bit parity with the batch form is deliberate: the buffer sums fold
    * oldest→newest (the frame order Spark's window aggregate uses), the
    * variance uses the identical expression shape, and the round is the
    * same HALF_UP 4 dp — so the q157 oracle is LITERALLY q152's SQL. */
  def rollingZScore(spark: SparkSession, dir: String): DataFrame = {
    withStateSession(spark) { s =>
      import s.implicits._
      // normalizeTs (inside eventsStreamSource) absorbs whichever footer
      // encoding the driver wrote (long nanos / NTZ / timestamp);
      // unix_micros then gives the same µs value the old `ts div 1000`
      // computed from raw nanos.
      val src = eventsStreamSource(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tsMicros"), col("value"))
        .as[ZEvent]

      val stream = rollingZScoreOn(src)

      val qname = "graft_rolling_zscore"
      runAvailableNow(s, qname, stream, "append")
    }
  }

  /** The stateful core of [[rollingZScore]], on any [[ZEvent]] stream —
    * separated so tests can drive it across MULTIPLE microbatches
    * (MemoryStream), proving the ring buffer carries across batches. */
  def rollingZScoreOn(src: Dataset[ZEvent]): Dataset[ZOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import src.sparkSession.implicits._

    def fn(userId: Long, events: Iterator[ZEvent],
           state: GroupState[ZState]): Iterator[ZOut] = {
      var ring = state.getOption.map(_.ring).getOrElse(Nil)
      val out = events.toSeq.sortBy(e => (e.tsMicros, e.event_id)).map { e =>
        val n = ring.length
        val z = if (n >= 8) {
          // fold oldest→newest — the frame order the batch window uses,
          // so the double sums associate identically
          var s1 = 0.0; var s2 = 0.0
          ring.foreach { x => s1 += x; s2 += x * x }
          val m = s1 / n
          val v = (s2 - n * m * m) / (n - 1)
          if (v > 0)
            Some(java.math.BigDecimal.valueOf((e.value - m) / math.sqrt(v))
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
          else None
        } else None
        ring = (ring :+ e.value).takeRight(16)
        ZOut(e.event_id, userId, n.toLong, z)
      }
      state.update(ZState(ring))
      out.iterator
    }

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }
}
