package graft.ml

import graft.functions.NearestCentroidL2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the canonical
  * iterative algorithm on Spark, built so every step is ENGINE-REPLAYABLE
  * (the q105 oracle recomputes the whole thing in SQL):
  *
  *   - deterministic init: the k lowest-id corpus vectors (q73's rule);
  *   - assignment: min (squared-L2, centroid-id) per row, evaluated as ONE
  *     expression, [[NearestCentroidL2]], that carries the centroid matrix
  *     as constructor data; its distance fold is sequential (== DuckDB
  *     `list_transform` + `list_reduce`, since 0+x == x), so comparisons
  *     are bit-identical;
  *   - update: per-dimension means ROUNDED to 6 dp — the parity seam:
  *     engine summation order differs ~1e-15 and the round collapses it
  *     (the q53 precedent), so the next iteration's centroids match the
  *     oracle's CTE exactly.
  *
  * Each iteration is one (cluster, pos)-keyed, map-side-combinable mean
  * aggregation whose k·dims rows are collected and assembled into
  * centroids on the driver (tiny, like the IVF centroid table); the corpus
  * is never collected and assignment never shuffles. Training runs one job
  * for the init and two per update (the aggregation's map stage and its
  * collect). Clusters that empty out simply drop from the centroid list
  * (both engines see the same aggregation, so they drop consistently).
  */
object KMeans {

  /** Nearest-centroid assignment as a pure expression: adds `cluster`. */
  def assign(vecs: DataFrame, idCol: String, vecCol: String,
             centroids: Seq[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "kmeans: no centroids")
    vecs.withColumn("cluster", NearestCentroidL2(col(vecCol), centroids))
  }

  /** Per-cluster, per-dimension means rounded to 6 dp, collected (k·dims
    * values — the driver-side footprint is the centroid table, never the
    * corpus). */
  def roundedMeans(assigned: DataFrame, vecCol: String,
                   dims: Int): Seq[(Long, Array[Double])] =
    centroidsOf(
      assigned.select(col("cluster"), posexplode(col(vecCol)))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .collect().toSeq
        .map(r => (r.getAs[Number](0).longValue, r.getInt(1), r.get(2))),
      dims)

  /** Centroids, ascending by id, from collected `(cluster, pos, mean)`
    * rows. A dimension with no non-null value, or none at all (every
    * vector of the cluster is shorter than `dims`), fails by name. */
  private[ml] def centroidsOf(rows: Seq[(Long, Int, Any)],
                              dims: Int): Seq[(Long, Array[Double])] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (cid, rs) =>
      val byPos = rs.map(r => r._2 -> r._3).toMap
      cid -> Array.tabulate(dims) { p =>
        byPos.get(p) match {
          case Some(m: Double) => m
          case Some(_) => throw new IllegalArgumentException(
            s"kmeans: cluster $cid has no non-null value in dimension $p")
          case None => throw new IllegalArgumentException(
            s"kmeans: cluster $cid has no value in dimension $p (vectors shorter than $dims)")
        }
      }
    }

  /** Fixed-iteration Lloyd's: init from the k lowest-id vectors, then
    * `iters` rounds of assign → rounded-mean update, returning the final
    * assignment (idCol, cluster). */
  def lloyd(vecs: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int): DataFrame = {
    val (centroids, v) = lloydCentroids(vecs, idCol, vecCol, k, iters)
    assign(v, idCol, "__v", centroids).select(col(idCol), col("cluster"))
  }

  /** The trained centroid table (and the double-cast vectors it was
    * trained on): `iters` rounds of assign → rounded-mean update starting
    * from the k lowest-id vectors. `iters = 2` means one update — the
    * centroids q105's second assignment uses. The vector width comes from
    * the init rows, which must share one. */
  def lloydCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int): (Seq[(Long, Array[Double])], DataFrame) = {
    val v = vecs.select(col(idCol), transform(col(vecCol), _.cast("double")).as("__v"))
    var centroids = lowestIdRows(v, idCol, k)
    val dims = centroids.head._2.length
    var i = 1
    while (i < iters) {
      centroids = roundedMeans(assign(v, idCol, "__v", centroids), "__v", dims)
      i += 1
    }
    (centroids, v)
  }

  /** The `n` lowest-id rows of an (id, double-array) frame, collected in
    * one job and ascending by id. No rows, a null vector among them or
    * vectors of different widths fail by name. */
  private[ml] def lowestIdRows(v: DataFrame, idCol: String, n: Int): Seq[(Long, Array[Double])] = {
    val rows = v.orderBy(idCol).limit(n).collect().toSeq.map { r =>
      val id = r.getAs[Number](0).longValue
      require(!r.isNullAt(1), s"kmeans: vector of id $id is null")
      id -> r.getSeq[Double](1).toArray
    }.sortBy(_._1)
    require(rows.nonEmpty, "kmeans: no input rows")
    val widths = rows.map(_._2.length).distinct
    require(widths.size == 1,
      s"kmeans: the $n lowest-id vectors are ragged (widths ${widths.sorted.mkString(", ")})")
    rows
  }
}
