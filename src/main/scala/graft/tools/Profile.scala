package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ListenerBus

/** Profile ONE query, the drill-down companion to [[ScalingAudit]]'s
  * per-query totals: when a query's cpu/shuffle moves between rounds, this
  * localizes WHICH stage grew.
  *
  * `--plan` prints the formatted physical plan without executing anything.
  * Otherwise the query runs once untimed (codegen warm-up), then once
  * measured through [[ScalingAudit.measureDf]]: one line per completed
  * stage of the measured run (id, task count, cpu, shuffle r/w, input,
  * spill, first line of the call site), including the eager
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
      df.write.mode("overwrite").format("noop").save()
      val sc = spark.sparkContext
      ListenerBus.drain(sc) // no warm-up stage may print below
      sc.addSparkListener(new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val m = i.taskMetrics
          println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"cpu_s=${m.executorCpuTime / 1e9}%9.1f " +
            f"shufR_mb=${m.shuffleReadMetrics.totalBytesRead / 1e6}%9.1f " +
            f"shufW_mb=${m.shuffleWriteMetrics.bytesWritten / 1e6}%9.1f " +
            f"in_mb=${m.inputMetrics.bytesRead / 1e6}%9.1f " +
            f"spill_mb=${m.memoryBytesSpilled / 1e6}%9.1f " +
            s"| ${i.name.linesIterator.next()}")
        }
      })
      val l = new ScalingAudit.MetricsListener
      sc.addSparkListener(l)
      val (m, wall) = ScalingAudit.measureDf(spark, l, df)
      println(f"[total] wall_sec=$wall%.2f " +
        m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    spark.stop()
  }
}
