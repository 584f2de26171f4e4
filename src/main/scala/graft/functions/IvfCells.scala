package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** IVF coarse-quantizer kernels for [[graft.similarity.Similarity.ivfCosineTopK]].
  *
  * The centroid matrix rides along as plain constructor data — ONE
  * reference object in the evaluated plan, O(1) plan size regardless of
  * nCells — and each row does one tight JVM loop over it. Centroids spelled
  * as `nCells` literal struct expressions instead form an O(nCells·dim)
  * expression TREE: at the nCells ≈ 10³–10⁴ a 100 TB corpus needs, Janino
  * bails out of codegen on the generated blob, and ranking probes needs an
  * O(nCells log nCells) in-row `array_sort`. Assignment stays a pure
  * per-row map (zero shuffle over the corpus), which is why this beats the
  * obvious alternative of a broadcast-joined centroid table + arg-min
  * aggregation: that shape explodes the corpus ×nCells and then
  * re-aggregates it — a full corpus shuffle that the map-only form never
  * pays.
  *
  * Numeric contract (oracle parity): cosines are the same sequential
  * left-fold dot product as [[DotProductD]] divided by (rowNorm · centNorm).
  * Preconditions (enforced by the caller filtering zero norms, documented
  * in Similarity): embeddings are non-null, uniform-dimension, nonzero-norm,
  * so no NaN cosines arise and JVM `>` comparison agrees with Spark's
  * NaN-is-largest ordering. Ties break to the LOWEST centroid id
  * (centroids iterate in ascending-id order; replacement requires strictly
  * greater cosine).
  */
private[graft] object IvfKernel {
  /** Sequential-fold dot of a row vector against centroid j; NaN-free under
    * the preconditions. Returns NaN-safe Double.NaN only if dims mismatch
    * (excluded by precondition; documented divergence corner). */
  def cos(vec: ArrayData, norm: Double, cv: Array[Double], cn: Double): Double = {
    val n = vec.numElements()
    if (n != cv.length) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += vec.getDouble(i) * cv(i)
      i += 1
    }
    acc / (norm * cn)
  }

  def anyNullElement(vec: ArrayData): Boolean = {
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** Cell id of the nearest centroid (cosine desc, centroid-id-asc
  * tie-break) as a single map-side expression. `centIds` must be sorted
  * ascending; `centVecs(j)`/`centNorms(j)` align with `centIds(j)`. */
case class NearestCentroidCell(left: Expression, right: Expression,
    centIds: Array[Long], centVecs: Array[Array[Double]],
    centNorms: Array[Double])
    extends BinaryExpression with CodegenFallback {
  require(centIds.length == centVecs.length && centIds.length == centNorms.length,
    "centroid arrays must align")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any, n: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (IvfKernel.anyNullElement(vec)) return null
    val norm = n.asInstanceOf[Double]
    var best = Double.NegativeInfinity
    var bestId: Any = null
    var j = 0
    while (j < centIds.length) {
      val c = IvfKernel.cos(vec, norm, centVecs(j), centNorms(j))
      if (c > best) { best = c; bestId = java.lang.Long.valueOf(centIds(j)) }
      j += 1
    }
    bestId
  }

  // the centroid arrays would print as JVM identity hashes, which differ
  // between runs; plans show the table's size instead
  override protected def stringArgs: Iterator[Any] =
    Iterator(left, right, s"${centIds.length} cells")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroidCell =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "nearest_centroid_cell"
}

object NearestCentroidCell {
  def apply(vec: Column, norm: Column, centIds: Array[Long],
            centVecs: Array[Array[Double]], centNorms: Array[Double]): Column =
    ColumnBridge.column(NearestCentroidCell(
      ColumnBridge.expression(vec), ColumnBridge.expression(norm),
      centIds, centVecs, centNorms))
}

/** The `nProbe` nearest cell ids (cosine desc, centroid-id-asc tie-break)
  * as an `array<long>` — the query-side probe list, O(nCells·nProbe) per
  * row with no in-row sort and no per-centroid expression nodes. */
case class TopProbeCells(left: Expression, right: Expression,
    centIds: Array[Long], centVecs: Array[Array[Double]],
    centNorms: Array[Double], nProbe: Int)
    extends BinaryExpression with CodegenFallback {
  require(centIds.length == centVecs.length && centIds.length == centNorms.length,
    "centroid arrays must align")
  require(nProbe > 0, s"nProbe must be positive, got $nProbe")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any, n: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    if (IvfKernel.anyNullElement(vec)) return null
    val norm = n.asInstanceOf[Double]
    val m = centIds.length
    val cosArr = new Array[Double](m)
    var j = 0
    while (j < m) {
      cosArr(j) = IvfKernel.cos(vec, norm, centVecs(j), centNorms(j))
      j += 1
    }
    val take = math.min(nProbe, m)
    val out = new Array[Long](take)
    val used = new Array[Boolean](m)
    var s = 0
    while (s < take) {
      var best = Double.NegativeInfinity
      var bestJ = -1
      var jj = 0
      while (jj < m) {
        // strict > keeps the first (lowest-id) candidate on cosine ties
        if (!used(jj) && cosArr(jj) > best) { best = cosArr(jj); bestJ = jj }
        jj += 1
      }
      if (bestJ < 0) { // all remaining are NaN (precondition violation): stop
        return new GenericArrayData(out.take(s).map(java.lang.Long.valueOf(_)))
      }
      used(bestJ) = true
      out(s) = centIds(bestJ)
      s += 1
    }
    new GenericArrayData(out.map(java.lang.Long.valueOf(_)))
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(left, right, s"${centIds.length} cells", nProbe)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopProbeCells =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "top_probe_cells"
}

object TopProbeCells {
  def apply(vec: Column, norm: Column, centIds: Array[Long],
            centVecs: Array[Array[Double]], centNorms: Array[Double],
            nProbe: Int): Column =
    ColumnBridge.column(TopProbeCells(
      ColumnBridge.expression(vec), ColumnBridge.expression(norm),
      centIds, centVecs, centNorms, nProbe))
}
