package graft

import graft.functions.ArgMinBy
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** arg_min_by / arg_max_by over an integral ordering key, which orders
  * as an exact long (q359's outlier-row pick). */
class ArgMinBySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rows = Seq(
    ("g1", "far", 9L, 1L), ("g1", "near", 1L, 2L), ("g1", "tie", 1L, 3L),
    ("g2", "only", 5L, 9L))

  test("min and max match builtin min_by/max_by(struct) incl. tiebreaks") {
    val df = rows.toDF("g", "name", "d", "t").groupBy("g").agg(
      ArgMinBy(col("name"), col("d"), col("t")).as("mn"),
      ArgMinBy.argMax(col("name"), col("d"), col("t")).as("mx"),
      min_by(col("name"), struct(col("d"), col("t"))).as("bmn"),
      max_by(col("name"), struct(col("d"), col("t"))).as("bmx"))
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(3), s"min diverged: $r")
      assert(r.getString(2) == r.getString(4), s"max diverged: $r")
    }
  }

  test("exact beyond 2^53: a 1-ulp-in-double difference still orders correctly") {
    // 2^60 and 2^60 + 1 are the SAME double; the exact long key must
    // tell them apart (the q359 exactness contract a double key cannot
    // honor)
    val big = 1L << 60
    val df = Seq(("g", "lo", big, 1L), ("g", "hi", big + 1, 2L))
      .toDF("g", "name", "d", "t").groupBy("g").agg(
        ArgMinBy(col("name"), col("d"), col("t")).as("mn"),
        ArgMinBy.argMax(col("name"), col("d"), col("t")).as("mx"))
    val r = df.collect().head
    assert(r.getString(1) == "lo" && r.getString(2) == "hi")
  }

  test("plans ObjectHashAggregate with map-side partials; survives many partitions") {
    val df = (1 to 64).map(i => ("g", s"n$i", i.toLong, i.toLong))
      .toDF("g", "name", "d", "t").repartition(16).groupBy("g").agg(
        ArgMinBy.argMax(col("name"), col("d"), col("t")).as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(df.collect().head.getString(1) == "n64")
  }

  test("null ordering rows are skipped; all-null group yields null") {
    val df = Seq(("g", "a", Some(1L), 1L), ("g", "b", None, 2L),
        ("n", "c", Option.empty[Long], 1L))
      .toDF("g", "name", "d", "t").groupBy("g").agg(
        ArgMinBy(col("name"), col("d"), col("t")).as("mn"))
    val got = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("g") == Some("a") && got("n").isEmpty)
  }
}
