package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** A long that orders exactly as Spark sorts the value it encodes, so the
  * typed aggregates compare ordering keys with one long compare. */
object OrderKey {
  /** Spark's double order (`SQLOrderingUtil.compareDoubles`): -0.0 equals
    * 0.0, every NaN equals every other NaN and is greater than +Inf. The
    * IEEE bits of a non-negative double already order as longs; flipping
    * the 63 low bits of a negative one reverses their order. Never
    * returns `Long.MinValue`, which stays free to encode a null. */
  def ofDouble(x: Double): Long = {
    // == folds -0.0 into 0.0; doubleToLongBits folds every NaN into one
    val bits = java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x)
    if (bits < 0) bits ^ Long.MaxValue else bits
  }
}

/** Mutable aggregation state: best (key, tie) seen and its payload. */
final class ArgMinBuffer {
  var set: Boolean = false
  var d: Long = 0L
  var t: Long = 0L
  var p: Any = null
}

/** `arg_min_by(payload, ord, ord_tiebreak)` — the payload of the row
  * minimizing `(ord, ord_tiebreak)` lexicographically.
  *
  * An integral `ord` compares as an exact long, so distinct keys above
  * 2^53 stay distinct (q359's n-scaled deviation can exceed it); a
  * floating or decimal `ord` compares as a double under Spark's order
  * ([[OrderKey.ofDouble]]).
  *
  * Why not builtin `min_by(payload, struct(d, t))`: MinBy is a
  * DeclarativeAggregate whose buffer holds the struct ordering key, and
  * struct buffers are immutable types HashAggregateExec can't hold — the
  * plan silently degrades to SortAggregate, which SORTS the entire input
  * (for a KNN cross join, every candidate pair) before aggregating. This
  * TypedImperativeAggregate keeps an O(1) JVM buffer and runs in
  * ObjectHashAggregateExec with map-side partial aggregation: the pair
  * stream collapses per partition and only |groups| buffers shuffle.
  *
  * The tiebreak must make the (d, t) order total for deterministic results
  * (pass a unique id). Rows with a null ordering field are skipped.
  *
  * `max = true` flips every comparison, giving `arg_max_by` under the SAME
  * struct total order builtin MaxBy uses (NaN sorts greatest, so a max
  * PREFERS a NaN ordering value).
  */
case class ArgMinBy(payload: Expression, ordD: Expression, ordT: Expression,
                    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0,
                    max: Boolean = false)
    extends TypedImperativeAggregate[ArgMinBuffer] {

  override def children: Seq[Expression] = Seq(payload, ordD, ordT)
  override def nullable: Boolean = true
  override def dataType: DataType = payload.dataType

  // keyed on the RESOLVED child type: a Column-API child reads NullType
  // until the plan binds it, so the dispatch cannot happen at construction
  @transient private lazy val keyOf: Any => Long = ordD.dataType match {
    case LongType | IntegerType | ShortType | ByteType => v => v.asInstanceOf[Number].longValue
    case DoubleType | FloatType => v => OrderKey.ofDouble(v.asInstanceOf[Number].doubleValue)
    case _: DecimalType => v => OrderKey.ofDouble(v.asInstanceOf[Decimal].toDouble)
    case other => throw new IllegalArgumentException(s"$prettyName: unsupported ordering type $other")
  }

  override def createAggregationBuffer(): ArgMinBuffer = new ArgMinBuffer

  /** (d, t) strictly before (b.d, b.t) — or strictly after when `max`. */
  private def better(b: ArgMinBuffer, d: Long, t: Long): Boolean = {
    if (!b.set) return true
    if (d != b.d) { if (max) d > b.d else d < b.d }
    else { if (max) t > b.t else t < b.t }
  }

  override def update(b: ArgMinBuffer, input: InternalRow): ArgMinBuffer = {
    val dAny = ordD.eval(input)
    val tAny = ordT.eval(input)
    if (dAny != null && tAny != null) {
      val d = keyOf(dAny)
      val t = tAny.asInstanceOf[Long]
      if (better(b, d, t)) {
        b.set = true; b.d = d; b.t = t
        b.p = InternalRow.copyValue(payload.eval(input))
      }
    }
    b
  }

  override def merge(b: ArgMinBuffer, o: ArgMinBuffer): ArgMinBuffer = {
    if (o.set && better(b, o.d, o.t)) {
      b.set = true; b.d = o.d; b.t = o.t; b.p = o.p
    }
    b
  }

  override def eval(b: ArgMinBuffer): Any = if (b.set) b.p else null

  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](BooleanType, LongType, LongType, dataType))
  @transient private lazy val rowBuf = new Array[Any](4)

  override def serialize(b: ArgMinBuffer): Array[Byte] = {
    rowBuf(0) = b.set; rowBuf(1) = b.d; rowBuf(2) = b.t; rowBuf(3) = b.p
    proj(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rowBuf))
      .getBytes
  }

  override def deserialize(bytes: Array[Byte]): ArgMinBuffer = {
    val row = new UnsafeRow(4)
    row.pointTo(bytes, bytes.length)
    val b = new ArgMinBuffer
    b.set = row.getBoolean(0)
    b.d = row.getLong(1)
    b.t = row.getLong(2)
    b.p = if (row.isNullAt(3)) null else InternalRow.copyValue(row.get(3, dataType))
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ArgMinBy =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ArgMinBy =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ArgMinBy =
    copy(payload = c(0), ordD = c(1), ordT = c(2))
  override def prettyName: String = if (max) "arg_max_by" else "arg_min_by"
}

object ArgMinBy {
  /** Coerce the tiebreak to the buffer's LONG; the ordering key keeps its
    * type (see [[ArgMinBy]]). */
  def coerced(payload: Expression, ordD: Expression, ordT: Expression,
              max: Boolean = false): ArgMinBy =
    ArgMinBy(payload, ordD,
      if (ordT.dataType == LongType) ordT else Cast(ordT, LongType), max = max)

  def apply(payload: Column, ord: Column, ordTie: Column): Column =
    ColumnBridge.column(
      coerced(ColumnBridge.expression(payload), ColumnBridge.expression(ord),
        ColumnBridge.expression(ordTie)).toAggregateExpression())

  /** `arg_max_by(payload, d, t)` — same buffer, flipped comparisons. */
  def argMax(payload: Column, ord: Column, ordTie: Column): Column =
    ColumnBridge.column(
      coerced(ColumnBridge.expression(payload), ColumnBridge.expression(ord),
        ColumnBridge.expression(ordTie), max = true).toAggregateExpression())
}
