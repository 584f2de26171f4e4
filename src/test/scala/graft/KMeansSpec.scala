package graft

import graft.ml.KMeans
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def blob(center: Array[Double], n: Int, seed: Int): Seq[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(center.map(_ + rng.nextGaussian() * 0.1))
  }

  test("well-separated blobs are recovered after two iterations") {
    // three tight blobs far apart; ids interleaved so the lowest-k init
    // starts from MIXED points and the update has to do the work
    val pts = (blob(Array(0.0, 0.0), 20, 1) ++ blob(Array(10.0, 0.0), 20, 2) ++
      blob(Array(0.0, 10.0), 20, 3)).zipWithIndex
    val rows = pts.map { case (v, i) =>
      ((i % 3) * 20L + i / 3, v.map(_.toFloat).toSeq, i / 20) // id, vec, true blob
    }
    val df = rows.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
    val out = KMeans.lloyd(df, "vec_id", "embedding", k = 3, iters = 4)
      .as[(Long, Long)].collect().toMap
    val truth = rows.map { case (id, _, b) => id -> b }.toMap
    // every predicted cluster maps to exactly one true blob and vice versa
    val byCluster = out.groupBy(_._2).view.mapValues(_.keys.map(truth).toSet).toMap
    assert(byCluster.size == 3, s"got ${byCluster.size} clusters")
    byCluster.foreach { case (c, blobs) =>
      assert(blobs.size == 1, s"cluster $c spans blobs $blobs")
    }
  }

  test("Lloyd iterations do not increase within-cluster SSE") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val v = e.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("__v"))
    def sse(centroids: Seq[(Long, Array[Double])]): Double =
      KMeans.assign(v, "vec_id", "__v", centroids)
        .select(col("cluster"), col("__v"))
        .as[(Long, Seq[Double])].collect()
        .map { case (c, vec) =>
          val cv = centroids.find(_._1 == c).get._2
          vec.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
        }.sum
    val init = v.orderBy("vec_id").limit(4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val dims = init.head._2.length
    var centroids = init
    var prev = sse(centroids)
    for (_ <- 1 to 3) {
      val assigned = KMeans.assign(v, "vec_id", "__v", centroids)
      centroids = KMeans.roundedMeans(assigned, "__v", dims)
      val cur = sse(centroids)
      // 6-dp centroid rounding can cost at most a hair; allow epsilon
      assert(cur <= prev + 1e-6, s"SSE increased: $prev -> $cur")
      prev = cur
    }
  }

  test("a cluster dimension with no non-null value fails by name") {
    val df = Seq((0L, Seq[Option[Double]](Some(1.0), None)),
      (1L, Seq[Option[Double]](Some(2.0), None))).toDF("cluster", "__v")
    val e = intercept[IllegalArgumentException](KMeans.roundedMeans(df, "__v", 2))
    assert(e.getMessage.contains("cluster 0 has no non-null value in dimension 1"), e.getMessage)
  }

  test("ragged initial centroids fail by name") {
    val df = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(1.0)), (2L, Seq(3.0, 4.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      KMeans.lloydCentroids(df, "vec_id", "embedding", k = 3, iters = 2))
    assert(e.getMessage.contains("lowest-id vectors are ragged"), e.getMessage)
  }
}
