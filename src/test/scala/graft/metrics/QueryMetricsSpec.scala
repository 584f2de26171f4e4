package graft.metrics

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** The one metrics listener must see what the tools report from it: task
  * sums for a parquet scan, state peaks of a stream that runs on a cloned
  * session, and nothing that happened before `measure` started — otherwise
  * the BASELINE.md byte and state tables would silently record zeros or
  * another query's numbers. */
class QueryMetricsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def q01(): Unit = SparkEntry.queries("q01_agg_pricing")(spark, TestSpark.sf0001)
    .write.mode("overwrite").format("noop").save()

  /** q01 measured after a warm-up run, mirroring ScalingAudit's protocol. */
  private lazy val q01Run = { q01(); QueryMetrics.measure(spark)(q01()) }

  test("measure records input bytes, tasks and shuffle writes for a scan-agg query") {
    val m = q01Run.counters
    assert(m("input_bytes") > 0, s"parquet scan must report bytes read: $m")
    assert(m("tasks") > 0, s"at least one task must complete: $m")
    assert(m("cpu_ms") >= 0 && q01Run.wallSec > 0 && q01Run.jobs > 0)
    // a groupBy at 4 shuffle partitions writes shuffle data
    assert(m("shuffle_write_bytes") > 0, s"groupBy must shuffle: $m")
    assert(m("state_operators") == 0 && m("state_rows_peak") == 0,
      s"a batch query keeps no streaming state: $m")
  }

  test("the completed stages' task counts sum to the tasks counter") {
    assert(q01Run.stages.nonEmpty)
    assert(q01Run.stages.map(_.numTasks.toLong).sum == q01Run.counters("tasks"))
  }

  test("measure sees the state of a stream run on a cloned session") {
    // q82 is a stream-stream join; EventsStream runs it on a session cloned
    // by withStateSession, whose progress events no listener of the outer
    // session's StreamingQueryManager would receive
    val m = QueryMetrics.measure(spark)(
      SparkEntry.queries("q82_stream_stream_join")(spark, TestSpark.sf0001)).counters
    assert(m("state_operators") >= 1, s"q82 keeps join state: $m")
    assert(m("state_rows_peak") > 0, s"q82's join state holds rows: $m")
    assert(m("state_rows_updated") > 0, m)
  }

  test("a measure of an empty body right after a query reports nothing") {
    q01()
    val s = QueryMetrics.measure(spark)(())
    assert(s.jobs == 0 && s.stages.isEmpty, s)
    assert(s.counters.values.forall(_ == 0L), s.counters)
    assert(s.counters.size == 13, s.counters.keys)
  }
}
