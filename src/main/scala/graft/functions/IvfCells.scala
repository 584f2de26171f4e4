package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Nearest-centroid kernels: the IVF coarse quantizer of
  * [[graft.similarity.Similarity.ivfCosineTopK]] (cosine) and the k-means
  * assignment of [[graft.ml.KMeans]] (squared L2).
  *
  * The centroid matrix rides along as plain constructor data — ONE
  * reference object in the evaluated plan, O(1) plan size regardless of
  * the centroid count — and each row does one tight JVM loop over it.
  * Centroids spelled as literal struct expressions instead form an
  * O(k·dim) expression TREE: at the k ≈ 10³–10⁴ a 100 TB corpus needs,
  * Janino bails out of codegen on the generated blob, and ranking probes
  * needs an O(k log k) in-row `array_sort`. Assignment stays a pure
  * per-row map (zero shuffle over the corpus), which is why this beats the
  * obvious alternative of a broadcast-joined centroid table + arg-min
  * aggregation: that shape explodes the corpus ×k and then re-aggregates
  * it — a full corpus shuffle that the map-only form never pays.
  *
  * Numeric contract (oracle parity): cosines are the same sequential
  * left-fold dot product as [[DotProductD]] divided by (rowNorm · centNorm);
  * squared distances are the sequential fold `acc + (x − y)·(x − y)` from
  * 0.0 that DuckDB's `list_reduce` replays. Ties break to the LOWEST
  * centroid id (centroids iterate in ascending-id order and replacement
  * requires a strictly better score).
  */
private[graft] object IvfKernel {
  /** Sequential-fold dot of a row vector against centroid j over the two
    * norms; NaN when the lengths differ or an element is NaN or infinite. */
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

  /** Index of the centroid nearest to `vec` by squared L2, ranked as Spark
    * orders `(d, index)` structs: a null distance sorts first, NaN above
    * every number, equal distances by index. A distance is null when the
    * vector is null, holds a null element, or differs in length from the
    * centroid (a ragged row), so such a row maps to the first centroid
    * whose distance is null. */
  def nearestL2(vec: ArrayData, cents: Array[Array[Double]]): Int = {
    if (vec == null || anyNullElement(vec)) return 0
    val n = vec.numElements()
    var j = 0
    while (j < cents.length) {
      if (cents(j).length != n) return j
      j += 1
    }
    var best = 0
    var bestD = dist2(vec, cents(0))
    j = 1
    while (j < cents.length) {
      val d = dist2(vec, cents(j))
      // Spark's double ordering: NaN is the largest value, -0.0 == 0.0
      if (!java.lang.Double.isNaN(d) && (java.lang.Double.isNaN(bestD) || d < bestD)) {
        best = j
        bestD = d
      }
      j += 1
    }
    best
  }

  private def dist2(vec: ArrayData, cv: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < cv.length) {
      val x = vec.getDouble(i) - cv(i)
      acc += x * x
      i += 1
    }
    acc
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
  * ascending; `centVecs(j)`/`centNorms(j)` align with `centIds(j)`.
  *
  * Never null: the caller keeps only rows with a positive norm (a null
  * vector or a null element has a null [[NormD]]), and a row the kernel
  * still cannot score — a null input, a null element, or no finite cosine
  * (a ragged row, a NaN or infinite element) — fails the query by name.
  * Being non-nullable is what keeps the kernel to one call per row: the
  * `isnotnull(cell)` Spark infers from the cell equi-join folds to true
  * instead of being pushed below the projection as a second evaluation. */
case class NearestCentroidCell(left: Expression, right: Expression,
    centIds: Array[Long], centVecs: Array[Array[Double]],
    centNorms: Array[Double])
    extends BinaryExpression with CodegenFallback {
  require(centIds.length == centVecs.length && centIds.length == centNorms.length,
    "centroid arrays must align")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val vec = left.eval(input).asInstanceOf[ArrayData]
    val n = right.eval(input)
    require(vec != null && n != null && !IvfKernel.anyNullElement(vec),
      "nearest_centroid_cell: null vector, null element or null norm")
    val norm = n.asInstanceOf[Double]
    var best = Double.NegativeInfinity
    var bestId: Any = null
    var j = 0
    while (j < centIds.length) {
      val c = IvfKernel.cos(vec, norm, centVecs(j), centNorms(j))
      if (c > best) { best = c; bestId = java.lang.Long.valueOf(centIds(j)) }
      j += 1
    }
    require(bestId != null, "nearest_centroid_cell: no cosine to rank for a " +
      s"${vec.numElements()}-element row (ragged, NaN or infinite)")
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

/** Id of the nearest centroid by squared L2 — the assignment step of
  * [[graft.ml.KMeans]] and of [[graft.ml.ProductQuantizer]]'s codebooks.
  * It ranks exactly as `least` over `(d, cid)` structs, with `d` the
  * sequential distance fold, would: ties to the lowest id, NaN above every
  * number, and a null distance first, so a null vector, a null element or
  * a ragged row maps to the LOWEST id ([[IvfKernel.nearestL2]]). Never
  * null. `centIds` must be sorted ascending. `doGenCode` calls the static
  * loop, so the kernel stays inside whole-stage codegen. */
case class NearestCentroidL2(child: Expression, centIds: Array[Long],
    centVecs: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(centIds.nonEmpty && centIds.length == centVecs.length,
    "centroid arrays must be non-empty and align")
  require(centIds.indices.tail.forall(j => centIds(j - 1) < centIds(j)),
    "centroid ids must be strictly ascending")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    centIds(IvfKernel.nearestL2(child.eval(input).asInstanceOf[ArrayData], centVecs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val ids = ctx.addReferenceObj("centIds", centIds, "long[]")
    val vecs = ctx.addReferenceObj("centVecs", centVecs, "double[][]")
    ev.copy(code = code"""
      |${v.code}
      |long ${ev.value} = $ids[graft.functions.IvfKernel.nearestL2(
      |  ${v.isNull} ? null : ${v.value}, $vecs)];""".stripMargin, isNull = FalseLiteral)
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${centIds.length} centroids")

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidL2 =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid_l2"
}

object NearestCentroidL2 {
  /** The nearest of `centroids` (id → vector, any order) to `vec`. */
  def apply(vec: Column, centroids: Seq[(Long, Array[Double])]): Column = {
    val sorted = centroids.sortBy(_._1).toArray
    ColumnBridge.column(NearestCentroidL2(
      ColumnBridge.expression(vec), sorted.map(_._1), sorted.map(_._2)))
  }
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
