package graft.tools

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The scaling audit's measured run must actually see task metrics: input
  * bytes for a parquet scan, at least one task, and the full row once the
  * listener bus is drained — otherwise the BASELINE.md byte tables would
  * silently record zeros and read as "no shuffle" for everything. */
class ScalingAuditSpec extends AnyFunSuite {

  test("measureOnce records input bytes, tasks and cpu for a scan-agg query") {
    val spark = TestSpark.spark
    // warm-up (codegen) then measure, mirroring the tool's protocol
    graft.SparkEntry.queries("q01_agg_pricing")(spark, TestSpark.sf0001)
      .write.mode("overwrite").format("noop").save()
    val s = ScalingAudit.measureOnce(spark, "q01_agg_pricing", TestSpark.sf0001)
    val m = s.counters
    assert(m("input_bytes") > 0, s"parquet scan must report bytes read: $m")
    assert(m("tasks") > 0, s"at least one task must complete: $m")
    assert(m("cpu_ms") >= 0 && s.wallSec > 0)
    // a groupBy at 4 shuffle partitions writes shuffle data
    assert(m("shuffle_write_bytes") > 0, s"groupBy must shuffle: $m")
    // the JSON row carries every counter and the wall
    val row = ScalingAudit.row(s)
    (m.keys.toSeq :+ "wall_sec").foreach(k => assert(row.contains(s""""$k":"""), row))
  }
}
