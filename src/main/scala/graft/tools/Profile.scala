package graft.tools

import graft.metrics.QueryMetrics
import org.apache.spark.sql.execution.FormattedMode

/** Profile ONE query, the drill-down companion to [[ScalingAudit]]'s
  * per-query totals: when a query's cpu/shuffle moves between rounds, this
  * localizes WHICH stage grew.
  *
  * `--plan` prints the formatted physical plan without executing anything.
  * Otherwise the query runs once untimed (codegen warm-up), then once
  * measured through [[QueryMetrics.measure]]; then it prints one line per
  * completed stage of the measured run (id, task count, cpu, shuffle r/w,
  * input, spill, first line of the call site), including the eager
  * checkpoint-materialization jobs that explain() cannot see, then one
  * `[total]` line with the wall clock and the run's summed task metrics.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <queryName> [--plan]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.filterNot(_ == "--plan")
    val spark = graft.Session.local(graft.Session.cpus)
    def df = graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("--plan"))
      println(df.queryExecution.explainString(FormattedMode))
    else {
      def run(): Unit = df.write.mode("overwrite").format("noop").save()
      run()
      val s = QueryMetrics.measure(spark)(run())
      s.stages.foreach { i =>
        val m = i.taskMetrics
        println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
          f"cpu_s=${m.executorCpuTime / 1e9}%9.1f " +
          f"shufR_mb=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1f " +
          f"shufW_mb=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1f " +
          f"in_mb=${m.inputMetrics.bytesRead / 1e6}%9.1f " +
          f"spill_mb=${m.memoryBytesSpilled / 1e6}%9.1f " +
          s"| ${i.name.linesIterator.next()}")
      }
      println(f"[total] wall_sec=${s.wallSec}%.2f " +
        s.counters.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.stop()
  }
}
