package graft

import graft.TestSpark.withConf
import graft.io.Bucketing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed co-located join: no shuffle exchange, results intact") {
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    val o = Tables.orders(spark, TestSpark.sf0001)
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(o, "o_bucketed", "o_orderkey", 8)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(800)}")
      assert(j.count() == li.count()) // every lineitem matches exactly one order
    }
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
  }
}
