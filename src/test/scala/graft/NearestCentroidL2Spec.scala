package graft

import graft.functions.NearestCentroidL2
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class NearestCentroidL2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The assignment as builtin column math — `least` over k literal
    * `(d, cid)` structs of sequential distance folds, the form KMeans and
    * ProductQuantizer used before the kernel, kept here as the independent
    * reference the kernel must match on every row. */
  private def leastOfStructs(v: Column, centroids: Seq[(Long, Array[Double])]): Column = {
    val terms = centroids.map { case (cid, c) =>
      struct(aggregate(zip_with(v, array(c.map(lit).toIndexedSeq: _*),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, b) => a + b).as("d"),
        lit(cid).as("cid"))
    }
    if (terms.size == 1) terms.head.getField("cid") else least(terms: _*).getField("cid")
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", ArrayType(DoubleType))))

  // an RDD relation, not a local one: the optimizer would evaluate a
  // projection over local rows on the driver and bypass the mode
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** Kernel and reference cluster of every row, under whole-stage codegen
    * with no interpreted fallback and under the interpreter. */
  private def assertParity(df: DataFrame, centroids: Seq[(Long, Array[Double])]): Map[Long, Long] = {
    var last = Map.empty[Long, Long]
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
        "spark.sql.codegen.fallback")
      val old = keys.map(k => k -> spark.conf.getOption(k))
      Seq(mode, wholeStage, "false").zip(keys).foreach { case (v, k) => spark.conf.set(k, v) }
      try {
        val out = df.select(col("id"), NearestCentroidL2(col("v"), centroids),
          leastOfStructs(col("v"), centroids))
        val plan = out.queryExecution.executedPlan
        assert(plan.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.WholeStageCodegenExec]) == (wholeStage == "true"),
          s"$mode: unexpected plan\n$plan")
        val rows = out.collect()
        assert(rows.length == df.count())
        rows.foreach { r =>
          assert(r.getLong(1) == r.getLong(2),
            s"$mode: row ${r.getLong(0)} kernel ${r.getLong(1)} vs least ${r.getLong(2)}")
        }
        last = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    last
  }

  test("kernel equals least over literal structs on sf0.001 embeddings and edge rows") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")))
      .collect().toSeq.map(r => Row(r.getLong(0), r.getSeq[Double](1)))
    val (trained, _) = graft.ml.KMeans.lloydCentroids(
      Tables.embeddings(spark, TestSpark.sf0001), "vec_id", "embedding", k = 8, iters = 2)
    // a copy of the lowest-id centroid under a higher id: every row nearest
    // to it ties exactly and must keep the lower id
    val centroids = trained :+ (1000L -> trained.head._2.clone())
    val dims = trained.head._2.length
    val base = trained.head._2.toSeq
    val edges = Seq(
      Row(-1L, null),                                            // null vector
      Row(-2L, base.updated(3, null)),                           // null element
      Row(-3L, base.take(dims - 1)),                             // short ragged row
      Row(-4L, base :+ 1.0),                                     // long ragged row
      Row(-5L, base.updated(0, Double.NaN)),                     // NaN everywhere
      Row(-6L, base.updated(0, Double.PositiveInfinity)),        // +Inf
      Row(-7L, base.updated(0, Double.NegativeInfinity)),        // -Inf
      Row(-8L, Seq.fill(dims)(0.0)),
      Row(-9L, trained.last._2.toSeq))                           // exactly a centroid
    val out = assertParity(frame(e ++ edges), centroids)
    val lowest = centroids.map(_._1).min
    Seq(-1L, -2L, -3L, -4L, -5L).foreach(id => assert(out(id) == lowest, s"row $id"))
    assert(out(-9L) == trained.last._1)
    assert(!out.values.exists(_ == 1000L), "the duplicate centroid never wins a tie")
  }

  test("ties, NaN and infinite distances rank as Spark orders (d, cid) structs") {
    // 2-dim centroids with ids out of order; 10 and 30 are equidistant
    // from (1, 0), and 20 duplicates 10
    val centroids = Seq(30L -> Array(2.0, 0.0), 10L -> Array(0.0, 0.0),
      20L -> Array(0.0, 0.0), 40L -> Array(Double.PositiveInfinity, 0.0))
    val rows = Seq(
      Row(1L, Seq(1.0, 0.0)),                                    // tie 10 vs 30
      Row(2L, Seq(-0.0, 0.0)),                                   // tie 10 vs 20 at d = 0
      Row(3L, Seq(Double.PositiveInfinity, 0.0)),                // Inf to 10/20/30, NaN to 40
      Row(4L, Seq(Double.NaN, 0.0)),                             // NaN to every centroid
      Row(5L, Seq(1e300, 1e300)),                                // overflow to Inf
      Row(6L, Seq(3.0, 0.0)),
      Row(7L, Seq(Double.NegativeInfinity, 0.0)),
      Row(8L, Seq.empty[Double]))                                // ragged: empty
    val out = assertParity(frame(rows), centroids)
    assert(out(1L) == 10L && out(2L) == 10L && out(4L) == 10L && out(8L) == 10L)
    assert(out(6L) == 30L)
  }

  test("k = 1 assigns every row, null and ragged ones included, to the only centroid") {
    val rows = Seq(Row(1L, Seq(1.0, 2.0)), Row(2L, null), Row(3L, Seq(1.0)),
      Row(4L, Seq(Double.NaN, 0.0)))
    val out = assertParity(frame(rows), Seq(7L -> Array(0.0, 0.0)))
    assert(out.values.toSet == Set(7L))
  }
}
