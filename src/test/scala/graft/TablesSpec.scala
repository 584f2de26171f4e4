package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` resolves each read's schema from one parquet footer on the
  * driver instead of Spark's inference job. These tests pin that the
  * decoded schema is exactly the one inference gives, that no job runs, and
  * that a bad path fails with Spark's own error classes. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withNanosAsLong[T](v: Boolean)(f: => T): T = {
    val prev = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, v.toString)
    try f
    finally prev.fold(spark.conf.unset(nanosAsLong))(spark.conf.set(nanosAsLong, _))
  }

  private def tempDir(): Path = Files.createTempDirectory("graft_tables_")
  private val testdata = new java.io.File(TestSpark.sf0001).getParent

  for (sf <- Seq("sf0.001", "sf0.01"); flag <- Seq(true, false))
    test(s"$sf, nanosAsLong=$flag: footer schema equals Spark's inferred schema for every table") {
      withNanosAsLong(flag) {
        Catalog.tables.foreach { t =>
          val p = s"$testdata/$sf/$t.parquet"
          assert(Tables.parquetSchema(spark, p) == spark.read.parquet(p).schema, s"$t at $sf")
        }
      }
    }

  test("Spark-written directory (part files, _SUCCESS, .crc, row metadata): same schema, all rows") {
    val dir = tempDir().resolve("t.parquet").toString
    val df = spark.range(0, 300, 1, 3).select(
      col("id"),
      (col("id") % 7).cast("int").as("k"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
      (col("id") / 3).cast("decimal(12,2)").as("d"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), lit(1.5).as("b")).as("st"),
      map(lit("x"), col("id")).as("m"))
    df.write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    assert(parts.size == 3, names)
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(dir, parts.head), conf))
    try assert(reader.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally reader.close()

    assert(Tables.parquetSchema(spark, dir) == spark.read.parquet(dir).schema)
    val back = Tables.parquet(spark, dir)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("Tables.apply, Tables.events and Tables.eventsRawSchema launch no Spark job") {
    val dir = TestSpark.sf0001
    // the counter does see the inference job the footer read replaces
    assert(TestSpark.jobsDuring(spark.read.parquet(s"$dir/region.parquet")) >= 1)
    val jobs = TestSpark.jobsDuring {
      Catalog.tables.filterNot(_ == "events").foreach(Tables(spark, dir, _))
      Tables.events(spark, dir)
      Tables.eventsRawSchema(spark, dir)
    }
    assert(jobs == 0)
  }

  test("missing path: PATH_NOT_FOUND naming the path, as Spark raises") {
    val missing = tempDir().resolve("nope.parquet").toString
    val spark4 = intercept[AnalysisException](spark.read.parquet(missing))
    val e = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND" && e.getCondition == spark4.getCondition)
    assert(e.getMessage.contains(missing), e.getMessage)
  }

  test("directory without data files (the empty table): UNABLE_TO_INFER_SCHEMA naming the path") {
    val dir = tempDir()
    val table = Files.createDirectory(dir.resolve("empty.parquet"))
    Files.createFile(table.resolve("_SUCCESS"))
    Files.createFile(table.resolve(".part-0.parquet.crc"))
    val spark4 = intercept[AnalysisException](spark.read.parquet(table.toString))
    val e = intercept[AnalysisException](Tables(spark, dir.toString, "empty"))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA" && e.getCondition == spark4.getCondition)
    assert(e.getMessage.contains(table.toString), e.getMessage)
  }
}
