package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the unglamorous operator that keeps a 100 TB
  * table scannable: streaming sinks and fine-grained partition writes
  * leave thousands of KB-sized parquet files, and every later scan pays a
  * task + footer read + seek per file. Compaction rewrites a directory
  * into ~`targetBytes` files, sized from the ACTUAL input bytes (listed
  * via the Hadoop FS API, so it works on any supported filesystem), not a
  * guessed partition count.
  *
  * The rewrite is one round-robin repartition — no key, no sort, no
  * skew concern; pair with [[ZOrder.cluster]] when the rewrite should
  * also establish clustering. Contract: re-read(out) == read(in)
  * row-for-row (q96 oracles exactly that, the q83 round-trip pattern).
  */
object Compact {

  /** Total bytes of data files under `dir` (non-recursive is fine for
    * Spark-written directories; hidden/_SUCCESS files excluded). */
  def dataBytes(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.Tables.dataFiles(fs, path).map(_.getLen).sum
  }

  /** Rewrite the parquet directory at `inDir` into `outDir` with files of
    * roughly `targetBytes` (pre-compression input bytes — a conservative
    * over-estimate, so real files come out under target). Returns the
    * file count written. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L << 20): Int = {
    val n = math.max(1L, (dataBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    graft.Tables.parquet(spark, inDir)
      .repartition(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }
}
