package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** operators.Sampling.systematicPps (q256): exact-integer systematic PPS —
  * the Σ copies = n invariant, multiplicity for heavy rows, and
  * partitioning independence. */
class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("uniform weights, n = row count: every row exactly once") {
    val df = (1L to 10L).map(i => (i, 1L)).toDF("id", "w")
    val r = Sampling.systematicPps(df, "id", "w", n = 10L)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r == (1L to 10L).map(_ -> 1L).toMap)
  }

  test("a row heavier than W/n is taken multiple times; total stays n") {
    // weights 1,1,1,97 -> W=100, probes at 5,15,...,95: all land in the
    // heavy row's interval [3, 100)
    val df = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 97L)).toDF("id", "w")
    val r = Sampling.systematicPps(df, "id", "w", n = 10L)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r == Map(4L -> 10L))
  }

  test("sum of copies is exactly n on a real corpus, any partitioning") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w"))
    val a = Sampling.systematicPps(docs, "doc_id", "w", n = 137L)
    val b = Sampling.systematicPps(docs.repartition(13), "doc_id", "w", n = 137L)
    assert(a.agg(sum("copies")).head().getLong(0) == 137L)
    // partitioning and bucketing never leak into the result
    assert(a.orderBy("doc_id").collect().toSeq ==
      b.orderBy("doc_id").collect().toSeq)
  }

  test("n = 1 picks the row straddling the median weight point") {
    // W = 10, single probe at 5.0 -> interval [4, 9) of id 3
    val df = Seq((1L, 4L), (2L, 0L), (3L, 5L), (4L, 1L)).toDF("id", "w")
    val r = Sampling.systematicPps(df, "id", "w", n = 1L).collect()
    assert(r.length == 1 && r(0).getLong(0) == 3L && r(0).getLong(2) == 1L)
  }

  test("n < 1 fails loud") {
    val df = Seq((1L, 1L)).toDF("id", "w")
    intercept[IllegalArgumentException] {
      Sampling.systematicPps(df, "id", "w", n = 0L)
    }
  }
}
