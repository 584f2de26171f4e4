package graft.tools

import org.apache.spark.sql.functions._

/** Rewrite an SF dir's events table as a TIME-ORDERED multi-file parquet
  * directory — the layout contract of `spark.graft.streaming.
  * maxFilesPerTrigger` (bounded-state backfill replay): part-00000 holds
  * the earliest time range, part-0000N the latest, so the file-stream
  * source's lexicographic listing replays history in watermark order and
  * chunked replay produces the same rows as a single-batch replay.
  * `repartitionByRange(ts) + sortWithinPartitions(ts)` is exactly how a
  * date-partitioned ingest directory is laid out in production.
  * Usage: runMain graft.tools.TimeOrderEvents <srcSfDir> <outDir> <nFiles>
  */
object TimeOrderEvents {
  /** part-00000 < part-00001 < … by name IS range order (earliest range
    * first); give each file an mtime 1 s apart in that order so the
    * file-stream source's modification-time replay matches. */
  def stampMtimesInNameOrder(dir: String): Unit = {
    val listed = new java.io.File(dir).listFiles()
    require(listed != null, s"not a listable directory: $dir")
    val parts = listed
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.nonEmpty, s"no part files under $dir")
    val base = System.currentTimeMillis() - parts.length * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      // setLastModified FAILING SILENTLY (false on some network mounts /
      // containers) would leave arbitrary parallel-write mtimes in place
      // and the modification-time replay would silently DROP rows behind
      // the prematurely-advanced watermark — the exact data loss this
      // tool exists to prevent, so fail loudly instead
      require(f.setLastModified(base + i * 1000L),
        s"setLastModified failed on $f — this filesystem cannot host a " +
          "time-ordered replay layout (mtimes are the replay order)")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, nFilesStr) = args.take(3)
    val nFiles = nFilesStr.toInt
    val spark = graft.Session.local(graft.Session.cpus)
    // raw read (no ts normalization): the rewrite must keep the footer
    // encoding the streaming schema probe expects
    graft.Tables.eventsRaw(spark, src)
      .repartitionByRange(nFiles, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // FileStreamSource replays files in MODIFICATION-TIME order, and a
    // parallel write finishes partitions in arbitrary order — stamp
    // mtimes ascending by part index (range order) the way a real
    // backfill directory accumulates files over time
    stampMtimesInNameOrder(s"$out/events.parquet")
    println(s"[time-order-events] wrote $out/events.parquet ($nFiles ranges)")
    spark.stop()
  }
}
