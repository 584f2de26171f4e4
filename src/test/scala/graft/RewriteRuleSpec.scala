package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The injected optimizer rule rewriting min_by(p, struct(d, t)) into the
  * hash-aggregable arg_min_by (GraftExtensions). */
class RewriteRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rows = Seq(
    ("g1", "far", 9.0, 1L), ("g1", "near", 1.0, 2L), ("g1", "tie", 1.0, 3L),
    ("g2", "only", 5.0, 9L))

  test("rewritten plan uses ObjectHashAggregate, not SortAggregate") {
    val df = rows.toDF("g", "name", "dist", "id")
      .groupBy("g").agg(min_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("arg_min_by"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("rewritten result matches min_by semantics incl. tiebreak") {
    val out = rows.toDF("g", "name", "dist", "id")
      .groupBy("g").agg(min_by(col("name"), struct(col("dist"), col("id"))).as("best"))
      .as[(String, String)].collect().toMap
    assert(out == Map("g1" -> "near", "g2" -> "only"))
  }

  test("NaN ordering matches struct semantics (NaN sorts greatest)") {
    val df = Seq(("g", "nan_row", Double.NaN, 1L), ("g", "real", 100.0, 2L))
      .toDF("g", "name", "dist", "id")
      .groupBy("g").agg(min_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    assert(df.as[(String, String)].collect().toMap == Map("g" -> "real"))
  }

  test("nullable ordering fields are NOT rewritten (null-field SQL semantics kept)") {
    // builtin MinBy compares the struct, where a null field sorts SMALLEST —
    // the d=NULL row must win; ArgMinBy would skip it, so the rewrite must
    // not fire here.
    val df = Seq(("g", "null_d", Option.empty[Double], 1L),
        ("g", "real", Some(5.0), 2L))
      .toDF("g", "name", "dist", "id")
      .groupBy("g").agg(min_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    assert(!df.queryExecution.executedPlan.toString.contains("arg_min_by"))
    assert(df.as[(String, String)].collect().toMap == Map("g" -> "null_d"))
  }

  test("non-matching shapes are left alone (3-field struct)") {
    val df = rows.toDF("g", "name", "dist", "id")
      .groupBy("g").agg(min_by(col("name"),
        struct(col("dist"), col("id"), col("name"))).as("best"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("arg_min_by"), plan)
    // still correct, just the slow path
    assert(df.as[(String, String)].collect().toMap ==
      Map("g1" -> "near", "g2" -> "only"))
  }

  test("max_by rewrites too: ObjectHashAggregate, arg_max_by in the plan") {
    val df = rows.toDF("g", "name", "dist", "id")
      .groupBy("g").agg(max_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("arg_max_by"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    // greatest dist wins; (1.0, 2) vs (1.0, 3) tie-breaks to the LARGER id
    assert(df.as[(String, String)].collect().toMap ==
      Map("g1" -> "far", "g2" -> "only"))
  }

  test("max_by tiebreak: equal dist resolves to the larger second field") {
    val df = Seq(("g", "lo", 1.0, 2L), ("g", "hi", 1.0, 3L))
      .toDF("g", "name", "dist", "id")
      .groupBy("g").agg(max_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    assert(df.as[(String, String)].collect().toMap == Map("g" -> "hi"))
  }

  test("max_by NaN ordering matches struct semantics (NaN sorts greatest, max PREFERS it)") {
    val df = Seq(("g", "nan_row", Double.NaN, 1L), ("g", "real", 100.0, 2L))
      .toDF("g", "name", "dist", "id")
      .groupBy("g").agg(max_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    assert(df.as[(String, String)].collect().toMap == Map("g" -> "nan_row"))
  }

  test("nullable ordering fields are NOT rewritten for max_by either") {
    val df = Seq(("g", "null_d", Option.empty[Double], 1L),
        ("g", "real", Some(5.0), 2L))
      .toDF("g", "name", "dist", "id")
      .groupBy("g").agg(max_by(col("name"), struct(col("dist"), col("id"))).as("best"))
    assert(!df.queryExecution.executedPlan.toString.contains("arg_max_by"))
    // builtin MaxBy: null field sorts smallest, so the real row wins
    assert(df.as[(String, String)].collect().toMap == Map("g" -> "real"))
  }

  test("both-integral ordering pair rewrites to the exact arg_min_by") {
    // 2^54 + 1 and 2^54 + 2 round to the same double; the integral key
    // must still order them, so min_by picks lo even though its id is larger
    val big = Seq(("g", "hi", 18014398509481986L, 1), ("g", "lo", 18014398509481985L, 2))
      .toDF("g", "name", "k", "id")
    val df = big.groupBy("g").agg(min_by(col("name"), struct(col("k"), col("id"))).as("best"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("arg_min_by"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(df.as[(String, String)].collect().toMap == Map("g" -> "lo"))
  }

  test("long-first rewrite is exact above 2^53 (double buffer would collapse)") {
    // 2^53 and 2^53+1 are the same Double; the long key must still
    // order them correctly — min_by picks lo, max_by picks hi, even where
    // the tiebreak alone would pick the other row
    val big = Seq(("g", "lo", 9007199254740992L, 2L),
      ("g", "hi", 9007199254740993L, 1L))
      .toDF("g", "name", "k", "id")
    val mn = big.groupBy("g")
      .agg(min_by(col("name"), struct(col("k"), col("id"))).as("best"))
    assert(mn.queryExecution.executedPlan.toString.contains("arg_min_by"))
    assert(mn.as[(String, String)].collect().toMap == Map("g" -> "lo"))
    val mx = big.groupBy("g")
      .agg(max_by(col("name"), struct(col("k"), col("id"))).as("best"))
    assert(mx.queryExecution.executedPlan.toString.contains("arg_max_by"))
    assert(mx.as[(String, String)].collect().toMap == Map("g" -> "hi"))
  }

  test("arg_max_by is callable from SQL") {
    rows.toDF("g", "name", "dist", "id").createOrReplaceTempView("rr_maxby")
    val out = spark.sql(
      "SELECT g, arg_max_by(name, dist, id) AS best FROM rr_maxby GROUP BY g")
      .as[(String, String)].collect().toMap
    assert(out == Map("g1" -> "far", "g2" -> "only"))
  }
}
