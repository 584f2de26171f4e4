package graft

import graft.functions.TopKByScore
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TopKByScoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("top_k_by selects exactly the rank-<=k window rows, in rank order") {
    // deterministic pseudo-random scores WITH deliberate ties (score
    // quantized to 0.1) so the nid-asc tiebreak is load-bearing, plus a
    // NaN and signed zeros to pin the double total order
    val rows = (0 until 500).map { i =>
      val g = i % 7
      val s = ((i * 2654435761L) % 10).toDouble / 10.0
      (g.toLong, i.toLong, s)
    } ++ Seq((0L, 9001L, Double.NaN), (1L, 9002L, -0.0), (1L, 9003L, 0.0))
    val df = rows.toDF("qid", "nid", "cos")

    val win = df.withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("nid"))
      .as[(Long, Int, Long)].collect().toSet

    val agg = df.groupBy("qid")
      .agg(TopKByScore(col("nid"), col("cos"), col("nid"), 10).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "nid")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rnk"), col("nid"))
      .as[(Long, Int, Long)].collect().toSet

    assert(agg == win)
  }

  test("signed zeros tie and a null score ranks last, as in the window") {
    // the zeros are group 1's best scores, so the -0.0/0.0 order decides
    // rank 1: Spark's sort treats them as equal and the lower nid wins
    val df = Seq((1L, 9003L, Some(0.0)), (1L, 9002L, Some(-0.0)),
        (1L, 9004L, None), (1L, 5L, Some(-1.0)))
      .toDF("qid", "nid", "cos")
    def top(k: Int) = df.groupBy("qid")
      .agg(TopKByScore(col("nid"), col("cos"), col("nid"), k).as("top"))
      .select(explode(col("top"))).as[Long].collect().toSeq
    val win = df.withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)))
      .orderBy("rnk").select("nid").as[Long].collect().toSeq
    assert(win == Seq(9002L, 9003L, 5L, 9004L))
    assert(top(1) == win.take(1))
    assert(top(4) == win)
  }

  test("k larger than the group emits the whole group, ranked") {
    val df = Seq((1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.9))
      .toDF("qid", "nid", "cos")
    val got = df.groupBy("qid")
      .agg(TopKByScore(col("nid"), col("cos"), col("nid"), 10).as("top"))
      .select(explode(col("top"))).as[Long].collect().toSeq
    assert(got == Seq(11L, 12L, 10L))
  }

  test("merge across partitions keeps the global top-k") {
    val df = spark.range(0, 10000, 1, 16)
      .select(lit(0L).as("qid"), col("id").as("nid"),
        (col("id") % 97).cast("double").as("cos"))
    val got = df.groupBy("qid")
      .agg(TopKByScore(col("nid"), col("cos"), col("nid"), 5).as("top"))
      .select(explode(col("top"))).as[Long].collect().toSeq
    // cos = nid % 97: max score 96 at the smallest nids 96, 193, 290, ...
    assert(got == Seq(96L, 193L, 290L, 387L, 484L))
  }
}
