package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver test data (TESTDATA.md).
  *
  * Mirrors the reference's single CSV scan (`R_groupe4.R:41-42`) generalized
  * to a multi-table parquet catalog. Reads are lazy; Catalyst pushes filters
  * and prunes columns into the parquet scan, so callers should select/filter
  * on the returned DataFrame directly rather than caching.
  *
  * The schema of every read comes from ONE parquet footer, read on the
  * driver by [[parquetSchema]] and handed to `spark.read.schema(...)`, so a
  * table read launches no Spark job (plain `spark.read.parquet` runs one
  * footer-inference job per read). Every file of a table is assumed to
  * share one schema — Spark's own inference assumes the same when
  * `mergeSchema=false`, its default. The footer is re-read on every call:
  * nothing is cached across reads or queries.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema resolved by [[parquetSchema]]. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path).schema` infers, without its job.
    * `path` is one parquet file, or a flat directory of them whose first
    * [[dataFiles]] entry in name order is read. Decoding is Spark's own:
    * the footer's Spark row-metadata schema when present, else
    * `ParquetToSparkSchemaConverter` under the session conf (so
    * `nanosAsLong` and the other parquet flags apply), then made nullable
    * as Spark's file-source relation does. Fails with Spark's error
    * classes: PATH_NOT_FOUND for a missing path, UNABLE_TO_INFER_SCHEMA for
    * a directory without data files. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(p)
    val status =
      try fs.getFileStatus(qualified)
      catch { case _: FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> qualified.toString)) }
    val file =
      if (status.isFile) status
      else dataFiles(fs, qualified).sortBy(_.getPath.getName).headOption
        .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
          Map("format" -> s"Parquet at $qualified")))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    SchemaBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** The data files of a flat directory: names starting with `_` or `.`
    * (`_SUCCESS`, `.crc` checksums) are skipped, as Spark's listing does. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  /** Normalize `ts` to the engine's canonical `TimestampType`, whatever the
    * parquet footer stored. The driver has regenerated `events.parquet` with
    * different footer types across rounds, so this must branch on the schema
    * actually read rather than assume one encoding:
    *   - `LongType`: footer was TIMESTAMP(NANOS) read under
    *     `spark.sql.legacy.parquet.nanosAsLong` — floor-convert to µs
    *     (the data is µs-precision, so lossless).
    *   - `TimestampNTZType`: footer is timestamp[us] without UTC adjustment —
    *     the session time zone is pinned to UTC everywhere (Verify/Bench/
    *     tests), so the cast is value-preserving and matches DuckDB's
    *     epoch-based reads of the same file.
    *   - `TimestampType`: already canonical.
    * Any other type fails loudly: a one-assertion failure beats 57 crashed
    * queries the next time the driver changes the footer. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet-decoded type $other (expected LongType nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = normalizeTs(eventsRaw(spark, dir))

  /** Events as the footer stores them (ts as long nanos under a
    * TIMESTAMP(NANOS) footer), for tools that rewrite the file. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    readNanosAsLong(spark)
    apply(spark, dir, "events")
  }

  /** Raw events schema (ts as long nanos) for streaming sources. */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType = {
    readNanosAsLong(spark)
    parquetSchema(spark, s"$dir/events.parquet")
  }

  // Harmless when the footer is µs; required to read TIMESTAMP(NANOS) footers.
  private def readNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
