package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, IsNotNull, JoinedRow, MutableProjection, SortOrder, UnaryExpression, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Ordered exclusive scan: for every row, running aggregates over all rows
  * STRICTLY before it in a total order — the global prefix sum that
  * sequence packing, global ranks, ECDFs and running maxima need, without
  * the single-partition `sum() OVER (ORDER BY …)` window.
  *
  * One shuffle, read twice, computed once:
  *
  *   1. the exec requires `OrderedDistribution` on the order, so Spark
  *      plans one range exchange (contiguous key ranges, partition i
  *      before partition i+1);
  *   2. one job reads that shuffle output and returns each partition's
  *      totals — order-free, so it neither sorts nor recomputes anything
  *      above the exchange; a single-partition input skips it;
  *   3. one map pass sorts each partition and emits its rows with
  *      offset = the totals of all earlier partitions.
  *
  * Both jobs run when the plan executes; building the DataFrame runs none.
  * Sums are exact BIGINT arithmetic (overflow fails), so results are the
  * same whatever cut points the range exchange samples.
  *
  * Contract:
  *   - the order should be unique per row: ties are emitted in an
  *     unspecified order, as in a ROWS window;
  *   - a row whose order key is NULL in any column is DROPPED (it has no
  *     place in the order). This is the null contract of the bucketed
  *     prefix sums this operator replaced, whose offset join never matched
  *     a null bucket.
  */
object PrefixSum {

  sealed trait Agg { def name: String }

  /** Σ `weight` (an integral column) over earlier rows, BIGINT: 0 before
    * the first row; a null weight adds nothing. */
  final case class Sum(weight: Column, name: String) extends Agg

  /** max `value` (any orderable column) over earlier rows: null before the
    * first non-null value. */
  final case class Max(value: Column, name: String) extends Agg

  /** Number of earlier rows (BIGINT): the 0-based global rank. */
  def count(name: String): Agg = Sum(lit(1L), name)

  /** `df` plus one column per aggregate, in `aggs` order. `order` columns
    * may carry `.asc` / `.desc` (default ascending). */
  def apply(df: DataFrame, order: Seq[Column], aggs: Agg*): DataFrame = {
    require(order.nonEmpty && aggs.nonEmpty, "PrefixSum needs an order and an aggregate")
    val sortOrder = order.map(c => ColumnBridge.eagerExpression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    val running = aggs.map {
      case Sum(w, _) => RunningAgg(ColumnBridge.eagerExpression(w), isMax = false)
      case Max(v, _) => RunningAgg(ColumnBridge.eagerExpression(v), isMax = true)
    }
    // the output types are known once the inputs resolve: analysis only
    val inputTypes = df.select(aggs.map {
      case Sum(w, _) => w
      case Max(v, _) => v
    }: _*).schema.map(_.dataType)
    val output = aggs.zip(running).zip(inputTypes).map { case ((a, r), t) =>
      AttributeReference(a.name, if (r.isMax) t else LongType, nullable = r.isMax)()
    }
    PlanBridge.ofRows(df, PrefixSumNode(sortOrder, running, output, PlanBridge.logicalPlan(df)))
  }
}

/** Marks one running aggregate of a [[PrefixSumNode]]; never evaluated on
  * its own. */
case class RunningAgg(child: Expression, isMax: Boolean)
    extends UnaryExpression with Unevaluable {
  override def dataType: DataType = if (isMax) child.dataType else LongType
  override def nullable: Boolean = isMax
  override def prettyName: String = if (isMax) "prefix_max" else "prefix_sum"
  override def checkInputDataTypes(): TypeCheckResult =
    if (isMax) TypeUtils.checkForOrderingExpr(child.dataType, prettyName)
    else child.dataType match {
      case ByteType | ShortType | IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"prefix_sum weights must be integral, got ${t.simpleString}")
    }
  override protected def withNewChildInternal(c: Expression): RunningAgg = copy(child = c)
}

/** `child` plus `aggOutput`, one column per [[RunningAgg]] of `aggs`, over
  * `order` (the Generate shape: aliases in a non-Project node would be
  * trimmed by the analyzer). */
case class PrefixSumNode(order: Seq[SortOrder], aggs: Seq[RunningAgg],
                         aggOutput: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ aggOutput
  override def producedAttributes: AttributeSet = AttributeSet(aggOutput)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): PrefixSumNode = copy(child = c)
}

/** Drops a [[PrefixSumNode]] whose running columns nobody reads (a total
  * taken over its output, say): what remains is its null-key filter.
  * Registered by [[graft.GraftExtensions]]. */
object PrunePrefixSum extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, n: PrefixSumNode) if !n.aggOutput.exists(p.references.contains) =>
      p.copy(child = Filter(n.order.map(o => IsNotNull(o.child)).reduce(And), n.child))
  }
}

/** Plans [[PrefixSumNode]]; registered by [[graft.GraftExtensions]]. */
object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixSumNode(order, aggs, aggOutput, child) =>
      PrefixSumExec(order, aggs, aggOutput, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class PrefixSumExec(order: Seq[SortOrder], aggs: Seq[RunningAgg],
                         aggOutput: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ aggOutput
  override def producedAttributes: AttributeSet = AttributeSet(aggOutput)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  // rows stay in their range partition and leave it sorted
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = order
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val scan = new PrefixSumExec.Scan(order.map(_.child), aggs, child.output)
    val sorter = SortExec(order, global = false, child)
    val schema = output
    val input = child.execute()
    val n = input.getNumPartitions
    // offsets(i) = totals of partitions 0 .. i-1; the last partition's
    // totals are never needed, so a single partition needs no job
    val offsets = if (n <= 1) Array(scan.zero) else {
      val totals = sparkContext.runJob(input, (it: Iterator[InternalRow]) => {
        val s = scan.open()
        it.foreach(row => if (s.load(row)) s.fold())
        s.state
      }, 0 until n - 1)
      totals.scanLeft(scan.zero)(scan.merge)
    }
    input.mapPartitionsWithIndex({ (i, it) =>
      val s = scan.open(offsets(i))
      val out = UnsafeProjection.create(schema, schema)
      val joined = new JoinedRow
      val before = new GenericInternalRow(s.state)
      // the state is read before the row is folded in: an exclusive scan
      sorter.createSorter().sort(it.asInstanceOf[Iterator[UnsafeRow]])
        .filter(s.load).map { row =>
          val r = out(joined(row, before))
          s.fold()
          numOutputRows += 1
          r
        }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): PrefixSumExec = copy(child = c)
}

object PrefixSumExec {
  /** The running state of one partition scan: the order keys and the
    * aggregate inputs are one projection, and the state is one slot per
    * aggregate (a boxed Long for sums, the current max or null). */
  class Scan(keys: Seq[Expression], running: Seq[RunningAgg], input: Seq[Attribute])
      extends Serializable {
    private val nKeys = keys.length
    private val types = running.map(_.child.dataType).toArray
    private val isMax = running.map(_.isMax).toArray
    @transient private lazy val orderings = types.map(t => TypeUtils.getInterpretedOrdering(t))

    def zero: Array[Any] = isMax.map(m => if (m) null else 0L)

    def merge(a: Array[Any], b: Array[Any]): Array[Any] =
      a.indices.map(j => combine(j, a(j), b(j))).toArray

    private def combine(j: Int, acc: Any, v: Any): Any =
      if (v == null) acc
      else if (!isMax(j)) Math.addExact(acc.asInstanceOf[Long], v.asInstanceOf[Long])
      else if (acc == null || orderings(j).gt(v, acc)) InternalRow.copyValue(v)
      else acc

    def open(start: Array[Any] = zero): Open = new Open(start.clone())

    final class Open(val state: Array[Any]) {
      private val proj = MutableProjection.create(keys ++ running.map(_.child), input)
      private var p: InternalRow = _

      /** Projects `row`; false, leaving the state alone, when an order key
        * is null. */
      def load(row: InternalRow): Boolean = {
        p = proj(row)
        !(0 until nKeys).exists(p.isNullAt)
      }

      /** Folds the last loaded row into the state. */
      def fold(): Unit = {
        var j = 0
        while (j < state.length) {
          val v = p.get(nKeys + j, types(j))
          state(j) = combine(j, state(j),
            if (v == null || isMax(j)) v else v.asInstanceOf[Number].longValue())
          j += 1
        }
      }
    }
  }
}
