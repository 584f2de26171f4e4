package graft.tools

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The scaling-audit listener must actually see task metrics: input bytes
  * for a parquet scan, at least one task, and the full counter set once
  * the listener bus is drained — otherwise the BASELINE.md byte tables
  * would silently record zeros and read as "no shuffle" for everything. */
class ScalingAuditSpec extends AnyFunSuite {

  test("measureOnce records input bytes, tasks and cpu for a scan-agg query") {
    val spark = TestSpark.spark
    val l = new ScalingAudit.MetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      // warm-up (codegen) then measure, mirroring the tool's protocol
      graft.SparkEntry.queries("q01_agg_pricing")(spark, TestSpark.sf0001)
        .write.mode("overwrite").format("noop").save()
      val (m, wall) = ScalingAudit.measureOnce(spark, l, "q01_agg_pricing", TestSpark.sf0001)
      assert(m("input_bytes") > 0, s"parquet scan must report bytes read: $m")
      assert(m("tasks") > 0, s"at least one task must complete: $m")
      assert(m("cpu_ms") >= 0 && wall > 0)
      // a groupBy at 4 shuffle partitions writes shuffle data
      assert(m("shuffle_write_bytes") > 0, s"groupBy must shuffle: $m")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("reset zeroes every counter") {
    val l = new ScalingAudit.MetricsListener
    l.inputBytes.set(5); l.tasks.set(3); l.peakExecMem.set(7)
    l.reset()
    assert(l.fingerprint == 0L && l.peakExecMem.get == 0L)
  }
}
