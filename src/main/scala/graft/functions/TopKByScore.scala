package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Mutable top-k state: parallel arrays of (score key, tiebreak,
  * payload), `n ≤ k` entries, unordered except that `worst` indexes the
  * rank-worst entry once the buffer is full. The score is held as its
  * [[OrderKey]], so every comparison is two long compares. */
final class TopKBuffer(k: Int) {
  val d = new Array[Long](k)
  val t = new Array[Long](k)
  val p = new Array[Any](k)
  var n: Int = 0
  var worst: Int = -1
}

/** `top_k_by(payload, ord_double, ord_tiebreak, k)` — the payloads of the
  * k rank-best rows under the total order (ord_double DESC, ord_tiebreak
  * ASC), returned as an array in rank order. Exactly the rows
  * `row_number() OVER (ORDER BY ord_double DESC, ord_tiebreak ASC) <= k`
  * selects, under the same double order Spark sorts by
  * ([[OrderKey.ofDouble]]): -0.0 equals 0.0, so signed zeros fall
  * through to the tiebreak; NaN is greatest, so NaN scores rank FIRST as
  * under a descending sort; a null score ranks LAST, as DESC NULLS LAST
  * puts it. Rows with a null tiebreak are skipped; the tiebreak must be
  * unique within the group for the selected SET to be deterministic.
  *
  * Why not the window form: a rank-≤-k filter over a window plans as a
  * full (partition, order) SORT of the input — for a kNN pair stream that
  * is every candidate pair (measured at a 20k-vector eval set: 400M pair
  * rows, 26.9 GB of sort spill, 78 s wall; the window's WindowGroupLimit
  * rewrite still sorts within map partitions). This
  * TypedImperativeAggregate keeps an O(k) JVM buffer per group, runs in
  * ObjectHashAggregateExec with MAP-SIDE partial aggregation — the pair
  * stream collapses to |groups|·k rows before it ever shuffles — and
  * needs no sort anywhere (the k-element buffer is rank-sorted at eval).
  * Update cost: one compare against the current worst for a losing row
  * (the overwhelming majority past warm-up), O(k) on replacement.
  *
  * Buffer is BOUNDED (k entries) regardless of group size — safe at any
  * group cardinality, unlike collect_list-style growing buffers (see the
  * Bench objectHashAggregate.sortBased.fallbackThreshold note). */
case class TopKByScore(payload: Expression, ordD: Expression, ordT: Expression,
                       k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {
  require(k >= 1, s"top_k_by needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(payload, ordD, ordT)
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(payload.dataType, containsNull = payload.nullable)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  /** rank(d1,t1) strictly better than rank(d2,t2): higher score key
    * first, smaller tiebreak first on equal keys. */
  private def beats(d1: Long, t1: Long, d2: Long, t2: Long): Boolean =
    if (d1 != d2) d1 > d2 else t1 < t2

  private def rescanWorst(b: TopKBuffer): Unit = {
    var w = 0
    var i = 1
    while (i < b.n) {
      if (beats(b.d(w), b.t(w), b.d(i), b.t(i))) w = i
      i += 1
    }
    b.worst = w
  }

  private def insert(b: TopKBuffer, d: Long, t: Long, p: Any): Unit = {
    if (b.n < k) {
      b.d(b.n) = d; b.t(b.n) = t; b.p(b.n) = p; b.n += 1
      if (b.n == k) rescanWorst(b)
    } else if (beats(d, t, b.d(b.worst), b.t(b.worst))) {
      b.d(b.worst) = d; b.t(b.worst) = t; b.p(b.worst) = p
      rescanWorst(b)
    }
  }

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val dAny = ordD.eval(input)
    val tAny = ordT.eval(input)
    if (tAny != null) {
      // a null score sorts below every double: DESC NULLS LAST
      val d = if (dAny == null) Long.MinValue else OrderKey.ofDouble(dAny.asInstanceOf[Double])
      val t = tAny.asInstanceOf[Long]
      // fast reject BEFORE copying the payload — the common case
      if (b.n < k || beats(d, t, b.d(b.worst), b.t(b.worst)))
        insert(b, d, t, InternalRow.copyValue(payload.eval(input)))
    }
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < o.n) {
      insert(b, o.d(i), o.t(i), o.p(i))
      i += 1
    }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val idx = Array.range(0, b.n).sortWith((i, j) =>
      beats(b.d(i), b.t(i), b.d(j), b.t(j)))
    new GenericArrayData(idx.map(b.p(_)))
  }

  @transient private lazy val proj = UnsafeProjection.create(Array[DataType](
    ArrayType(LongType, containsNull = false),
    ArrayType(LongType, containsNull = false),
    dataType))
  @transient private lazy val rowBuf = new Array[Any](3)

  override def serialize(b: TopKBuffer): Array[Byte] = {
    rowBuf(0) = new GenericArrayData(b.d.take(b.n))
    rowBuf(1) = new GenericArrayData(b.t.take(b.n))
    rowBuf(2) = new GenericArrayData(b.p.take(b.n))
    proj(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rowBuf))
      .getBytes
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val row = new UnsafeRow(3)
    row.pointTo(bytes, bytes.length)
    val b = new TopKBuffer(k)
    val ds = row.getArray(0)
    val ts = row.getArray(1)
    val ps = row.getArray(2)
    b.n = ds.numElements()
    var i = 0
    while (i < b.n) {
      b.d(i) = ds.getLong(i)
      b.t(i) = ts.getLong(i)
      b.p(i) =
        if (ps.isNullAt(i)) null
        else InternalRow.copyValue(ps.get(i, payload.dataType))
      i += 1
    }
    if (b.n == k) rescanWorst(b)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByScore =
    copy(payload = c(0), ordD = c(1), ordT = c(2))
  override def prettyName: String = "top_k_by"
}

object TopKByScore {
  /** `top_k_by(payload, score, tie, k)` — array of the k payloads ranked
    * by (score DESC, tie ASC). Ordering children coerced to the buffer's
    * primitive types (SQL numeric literals arrive as Decimal). */
  def apply(payload: Column, ordDouble: Column, ordTie: Column, k: Int): Column = {
    val d0 = ColumnBridge.expression(ordDouble)
    val t0 = ColumnBridge.expression(ordTie)
    ColumnBridge.column(TopKByScore(
      ColumnBridge.expression(payload),
      if (d0.dataType == DoubleType) d0 else Cast(d0, DoubleType),
      if (t0.dataType == LongType) t0 else Cast(t0, LongType),
      k).toAggregateExpression())
  }
}
