package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("windowedCounts (streaming) equals the batch aggregation") {
    val stream = EventsStream.windowedCounts(spark, TestSpark.sf0001)
      .orderBy("win_start", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("win_start", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("auditNoopSink seam: stream executes against the noop sink, returns an " +
      "empty frame with the memory-mode schema") {
    val viaMemory = EventsStream.windowedCounts(spark, TestSpark.sf0001)
    spark.conf.set("spark.graft.streaming.auditNoopSink", "true")
    try {
      val viaNoop = EventsStream.windowedCounts(spark, TestSpark.sf0001)
      // the contract ScalingAudit's state columns rely on: same plan shape (the
      // downstream projection resolved, so the stream really ran through
      // planning + execution), zero driver-collected rows
      assert(viaNoop.schema == viaMemory.schema)
      assert(viaNoop.count() == 0)
    } finally spark.conf.unset("spark.graft.streaming.auditNoopSink")
    assert(viaMemory.count() > 0)
  }

  test("streaming heavy hitters (sketch + recount) equal the exact batch relation") {
    val stream = EventsStream.windowedHeavyHitters(spark, TestSpark.sf0001)
      .orderBy("win_start", "user_id")
      .as[(Long, Long, Long)].collect().toSeq
    val w = Tables.events(spark, TestSpark.sf0001)
      .select(unix_timestamp(window(col("ts"), "1 hour")
        .getField("start")).as("win_start"), col("user_id"))
    val n = w.groupBy("win_start").agg(count(lit(1)).as("n"))
    val batch = w.groupBy("win_start", "user_id").agg(count(lit(1)).as("cnt"))
      .join(n, "win_start")
      .filter(col("cnt") * 200 > col("n"))
      .select("win_start", "user_id", "cnt")
      .orderBy("win_start", "user_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("append-mode (watermark-bounded) windows are exactly the sealed complete-mode windows") {
    val complete = EventsStream.windowedCounts(spark, TestSpark.sf0001)
      .as[(Long, String, Long, Double)].collect().toSet
    val append = EventsStream.windowedCountsAppend(spark, TestSpark.sf0001)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(append.nonEmpty)
    assert(append.subsetOf(complete))
    // everything missing from append belongs to the final unsealed hour
    val maxSealed = append.map(_._1).max
    assert(complete.diff(append).forall(_._1 > maxSealed))
  }

  test("stateful (flatMapGroupsWithState) sessionization matches the batch closed sessions") {
    val stateful = EventsStream.sessionizeStateful(spark, TestSpark.sf0001, 30)
      .select("user_id", "session_seq", "n_events", "session_start", "session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val batch = EventsStream.sessionize(spark, TestSpark.sf0001, 30)
      .select("user_id", "session_seq", "n_events", "session_start", "session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // streaming emits sessions closed by the event-time timeout; every one
    // of them must be a session the batch form also derives
    assert(stateful.nonEmpty)
    assert(stateful.subsetOf(batch),
      s"stateful-only sessions: ${stateful.diff(batch).take(3)}")
  }

  test("stateful sessionization emits EXACTLY the provably-closed sessions (q67 oracle predicate)") {
    // The q67 DuckDB oracle's predicate, derived in Spark: emit every
    // non-last session per user, plus the last session iff its event-time
    // timeout (last_ts_sec*1000 + gapMs) fires STRICTLY below the terminal
    // watermark (floor(max event-time ms) - gapMs). This pins the oracle's
    // semantics in-engine, replacing the old tools/ProbeStateful scratch.
    import org.apache.spark.sql.expressions.Window
    val gapMs = 30 * 60 * 1000L
    val ev = Tables.events(spark, TestSpark.sf0001)
    val maxMs = ev.agg(max(unix_millis(col("ts")))).as[Long].first()
    val wmMs = maxMs - gapMs
    val w = Window.partitionBy("user_id")
    val expected = EventsStream.sessionize(spark, TestSpark.sf0001, 30)
      .join(
        ev.withColumn("prev_ts", lag(col("ts"), 1).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800L, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("new_session")).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "session_seq")
          .agg(max(unix_timestamp(col("ts"))).as("last_ts")),
        Seq("user_id", "session_seq"))
      .withColumn("max_seq", max("session_seq").over(w))
      .filter(col("session_seq") < col("max_seq") ||
        col("last_ts") * 1000 + gapMs < wmMs)
      .select("user_id", "session_seq", "n_events", "session_start", "session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val stateful = EventsStream.sessionizeStateful(spark, TestSpark.sf0001, 30)
      .select("user_id", "session_seq", "n_events", "session_start", "session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(stateful == expected,
      s"stateful-only: ${stateful.diff(expected).take(3)}; " +
        s"expected-only: ${expected.diff(stateful).take(3)}")
  }

  test("multi-batch stateful stream: session_seq stays monotonic across a timeout") {
    // Drives the timeout + zero-event-marker transitions that a single
    // AvailableNow batch can never reach: a user whose session times out
    // (no data for them in the firing batch) and who then RETURNS must get
    // the next session_seq, not restart at 1 (batch-twin numbering).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream.SessionEvent
    implicit val sc = spark.sqlContext
    def ev(user: Long, id: Long, minutes: Long): SessionEvent = {
      val sec = 1700000000L + minutes * 60
      SessionEvent(user, id, sec, 1.0, new java.sql.Timestamp(sec * 1000))
    }
    val input = MemoryStream[SessionEvent]
    val out = EventsStream.sessionizeStatefulOn(
      input.toDS().withWatermark("ts", "30 minutes"), gapSec = 1800L)
    val qname = "graft_multibatch_sessions"
    spark.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    try {
      // batch A: u1 session 1 (2 events), then a 2h gap closes it inline
      // and opens session 2. Watermark after A: 02:00 - 30min = 01:30.
      input.addData(ev(1, 1, 0), ev(1, 2, 10), ev(1, 3, 120))
      q.processAllAvailable()
      // batch B: other user only — advances watermark to 05:30; u1's
      // timer (02:30) can't fire until the NEXT batch sees that watermark.
      input.addData(ev(2, 4, 360))
      q.processAllAvailable()
      // batch C: other user again → u1 has no data, timer 02:30 < 05:30
      // fires: session 2 emitted by TIMEOUT, zero-event marker retained.
      input.addData(ev(2, 5, 361))
      q.processAllAvailable()
      // batch D: u1 returns → marker branch must continue at seq 3.
      input.addData(ev(1, 6, 480))
      q.processAllAvailable()
      // batch E: 4h later → closes session 3 inline.
      input.addData(ev(1, 7, 720))
      q.processAllAvailable()
      val u1 = spark.table(qname).filter(col("user_id") === 1)
        .select("session_seq", "n_events", "session_start")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val t0 = 1700000000L
      assert(u1 == Seq(
        (1L, 2L, t0),             // inline close at the 2h gap
        (2L, 1L, t0 + 120 * 60),  // closed by event-time timeout
        (3L, 1L, t0 + 480 * 60))) // continued AFTER the timeout — not seq 1
    } finally q.stop()
  }

  test("streaming dedup (watermarked dropDuplicates) matches batch distinct counts") {
    val stream = EventsStream.dedupStreamCounts(spark, TestSpark.sf0001)
      .as[(String, Long)].collect().toMap
    val batch = Tables.events(spark, TestSpark.sf0001)
      .dropDuplicates("event_id")
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(stream == batch)
    assert(stream.values.sum == 1000)
  }

  test("streaming dedup on a coarse key counts distinct keys (q77 shape)") {
    val stream = EventsStream.dedupStreamCounts(spark, TestSpark.sf0001,
      Seq("user_id", "event_type")).as[(String, Long)].collect().toMap
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("cnt"))
      .as[(String, Long)].collect().toMap
    assert(stream == batch)
    // the coarse key really dedups (fewer survivors than events)
    assert(stream.values.sum < 1000)
  }

  test("chunked backfill replay (maxFilesPerTrigger) over a time-ordered directory layout " +
       "equals single-batch replay") {
    // covers two r15 findings at once: (1) directory layouts (Spark-written
    // events.parquet/part-*) must stream — the glob form used to match
    // ZERO files and succeed on an empty stream; (2) with the layout
    // time-ordered (repartitionByRange(ts), the production ingest shape),
    // chunked replay advances the watermark BETWEEN chunks — state stays
    // bounded (proven at sf10 in BASELINE.md) — and must emit exactly the
    // single-batch rows
    val dir = java.nio.file.Files.createTempDirectory("graft-ordlayout")
      .toFile.getAbsolutePath
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(TestSpark.sf0001 + "/events.parquet")
      .repartitionByRange(3, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the file-stream source replays in MTIME order and a parallel write
    // finishes partitions arbitrarily — stamp mtimes in range order, the
    // shape a real backfill directory has
    graft.tools.TimeOrderEvents.stampMtimesInNameOrder(s"$dir/events.parquet")
    def rows() = EventsStream.streamStreamJoin(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val single = rows()
    assert(single.nonEmpty, "directory layout streamed zero files")
    spark.conf.set("spark.graft.streaming.maxFilesPerTrigger", "1")
    try assert(rows() == single)
    finally spark.conf.unset("spark.graft.streaming.maxFilesPerTrigger")
  }

  test("multi-batch stream-stream join: cross-batch match; watermark evicts stale state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val t0 = 1700000000L
    def ts(minutes: Long) = new java.sql.Timestamp((t0 + minutes * 60) * 1000)
    val clickIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buyIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val out = EventsStream.streamStreamJoinOn(
      clickIn.toDF().toDF("c_user", "click_id", "click_ts"),
      buyIn.toDF().toDF("p_user", "purchase_id", "purchase_ts", "value"))
    val qname = "graft_multibatch_ssj"
    spark.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    try {
      // batch A: a click, no purchases yet — buffered in join state
      clickIn.addData((1L, 100L, ts(0)))
      q.processAllAvailable()
      // batch B: a purchase 30 min later matches the BUFFERED click from
      // batch A (cross-batch emission), plus one outside the 1h window
      buyIn.addData((1L, 200L, ts(30), 9.99), (1L, 201L, ts(90), 5.0))
      q.processAllAvailable()
      val afterB = spark.table(qname)
        .select("click_id", "purchase_id", "secs_to_purchase")
        .as[(Long, Long, Long)].collect().toSet
      assert(afterB == Set((100L, 200L, 1800L)), s"got $afterB")
      // batches C+D: advance BOTH watermarks far past the click's
      // eviction bound (click_ts + 1h); the click leaves the state store
      clickIn.addData((2L, 101L, ts(600)))
      buyIn.addData((2L, 202L, ts(601), 1.0))
      q.processAllAvailable()
      clickIn.addData((2L, 102L, ts(610)))
      buyIn.addData((2L, 203L, ts(611), 1.0))
      q.processAllAvailable()
      // batch E: a late purchase that WOULD have matched the evicted
      // click must not emit — state really is bounded by the watermark
      buyIn.addData((1L, 204L, ts(40), 7.0))
      q.processAllAvailable()
      val lateMatches = spark.table(qname)
        .filter(col("purchase_id") === 204L).count()
      assert(lateMatches == 0, "evicted click matched a late purchase")
    } finally q.stop()
  }

  test("multi-batch LEFT OUTER stream-stream join: nulls emitted only after the " +
       "watermark passes the join window; buffered clicks stay silent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val t0 = 1700000000L
    def ts(minutes: Long) = new java.sql.Timestamp((t0 + minutes * 60) * 1000)
    val clickIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val buyIn = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val out = EventsStream.streamStreamJoinOn(
      clickIn.toDF().toDF("c_user", "click_id", "click_ts"),
      buyIn.toDF().toDF("p_user", "purchase_id", "purchase_ts", "value"),
      "leftOuter")
    val qname = "graft_multibatch_ssj_left"
    spark.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    try {
      // batch A: two clicks; one will match, one never will
      clickIn.addData((1L, 100L, ts(0)), (1L, 101L, ts(5)))
      buyIn.addData((1L, 200L, ts(30), 9.99)) // matches click 100 (and 101)
      q.processAllAvailable()
      val afterA = spark.table(qname)
        .select("click_id", "purchase_id").as[(Long, Option[Long])].collect().toSet
      // both clicks matched inner-style; NO nulls yet (watermark at ~ -1h)
      assert(afterA == Set((100L, Some(200L)), (101L, Some(200L))), s"got $afterA")
      // batch B: an unmatched click + watermark advance on both sides far
      // past its window end → its null row must emit
      clickIn.addData((2L, 102L, ts(40)))
      q.processAllAvailable()
      clickIn.addData((3L, 103L, ts(600)))
      buyIn.addData((3L, 300L, ts(601), 1.0))
      q.processAllAvailable()
      clickIn.addData((3L, 104L, ts(610)))
      buyIn.addData((3L, 301L, ts(611), 1.0))
      q.processAllAvailable()
      val nulls = spark.table(qname).filter(col("purchase_id").isNull)
        .select("click_id").as[Long].collect().toSet
      // click 102's window ended at ts(100) < watermark (~ts(550)) → null
      // emitted; clicks 103/104 matched; no null for them
      assert(nulls == Set(102L), s"got $nulls")
    } finally q.stop()
  }

  test("stream-stream interval join emits exactly the batch interval join (q82 shape)") {
    val stream = EventsStream.streamStreamJoin(spark, TestSpark.sf0001)
      .select("click_id", "purchase_id", "secs_to_purchase")
      .as[(Long, Long, Long)].collect().toSet
    val e = Tables.events(spark, TestSpark.sf0001)
    val batch = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts")),
        Seq("user_id"))
      .filter(col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("purchase_id"),
        (unix_timestamp(col("pts")) - unix_timestamp(col("cts"))).as("secs"))
      .as[(Long, Long, Long)].collect().toSet
    assert(stream == batch)
    assert(stream.nonEmpty)
    // the interval bound really constrains (not a plain equi-join)
    assert(stream.forall { case (_, _, secs) => secs >= 0 && secs <= 3600 })
  }

  test("cleaning operators compose onto a stream unchanged (stream == batch clean)") {
    import graft.operators.Cleaning
    val stream = EventsStream.cleanStream(spark, TestSpark.sf0001)
      .select("event_id", "value", "props").as[(Long, Double, String)]
      .collect().sortBy(_._1).toSeq
    val batch = Cleaning.winsorize(
        Cleaning.normalizeBlanks(Tables.events(spark, TestSpark.sf0001),
          Seq("props", "event_type")), "value", 400.0, 300.0)
      .select("event_id", "value", "props").as[(Long, Double, String)]
      .collect().sortBy(_._1).toSeq
    assert(stream == batch)
    assert(stream.size == 1000)
  }

  test("exactly-once sink: the doubled run emits the batch relation once (q126)") {
    // idempotentSinkCounts runs the stream TWICE into the same batch-id
    // paths; an appending sink would double cnt — equality with the batch
    // aggregation proves the overwrite made the retry idempotent
    val sink = EventsStream.idempotentSinkCounts(spark, TestSpark.sf0001)
      .select("win_start", "event_type", "cnt")
      .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val batch = Tables.events(spark, TestSpark.sf0001)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(sink == batch)
  }

  test("sessionize: session boundaries at the idle gap, totals consistent") {
    val out = EventsStream.sessionize(spark, TestSpark.sf0001, 30)
    val total = out.agg(sum("n_events")).as[Long].first()
    val input = Tables.events(spark, TestSpark.sf0001).count()
    assert(total == input) // every event lands in exactly one session
    // session_seq starts at 1 per user and is dense
    val perUser = out.groupBy("user_id")
      .agg(min("session_seq").as("mn"), max("session_seq").as("mx"),
        count(lit(1)).as("n"))
      .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
    assert(perUser.count() == 0)
  }

  test("rolling z-score ring buffer carries across microbatches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream.{ZEvent, ZOut}
    implicit val sc = spark.sqlContext
    val input = MemoryStream[ZEvent]
    val out = EventsStream.rollingZScoreOn(input.toDS())
    val qname = "graft_multibatch_zscore"
    spark.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(qname).start()
    try {
      // batch A: 8 events (ids 1-8) — none scored (fewer than 8 priors
      // until id 9), building state
      input.addData((1 to 8).map(i => ZEvent(1L, i.toLong, i.toLong, i.toDouble)): _*)
      q.processAllAvailable()
      // batch B: one event — MUST see the 8 prior values from batch A
      input.addData(ZEvent(1L, 9L, 9L, 100.0))
      q.processAllAvailable()
      val got = spark.table(qname).as[ZOut].collect().map(r => r.event_id -> r).toMap
      assert((1 to 8).forall(i => got(i.toLong).zscore.isEmpty))
      assert(got(9L).n_win == 8L, s"state lost across batches: ${got(9L)}")
      // prior ring = 1..8: m = 4.5, v = 6.0, z = (100-4.5)/sqrt(6)
      val want = BigDecimal((100.0 - 4.5) / math.sqrt(6.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(9L).zscore.contains(want), s"got ${got(9L).zscore}, want $want")
    } finally q.stop()
  }

  test("streaming HLL distinct: every window's estimate is inside the 5% bound " +
      "and exact counts equal the batch distinct (q208 shape)") {
    val r = graft.streaming.EventsStream
      .windowedApproxDistinct(spark, TestSpark.sf0001).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Boolean]("est_ok")),
      "HLL lgK=12 must land within 5% on sf0.001 cardinalities")
    val batch = graft.Tables.events(spark, TestSpark.sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("x"))
      .select(unix_timestamp(col("window.start")).as("w"), col("event_type"), col("x"))
      .collect().map(x => (x.getLong(0), x.getString(1)) -> x.getLong(2)).toMap
    r.foreach { row =>
      assert(row.getAs[Long]("exact_users") ==
        batch((row.getLong(0), row.getString(1))))
    }
  }
}
