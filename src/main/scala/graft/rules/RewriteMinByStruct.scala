package graft.rules

import graft.functions.ArgMinBy
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: `min_by(payload, struct(d, t))` → `arg_min_by(payload,
  * d, t)` — and `max_by(payload, struct(d, t))` → its flipped twin — when
  * the ordering struct is a (numeric, integral) pair.
  *
  * Why: builtin MinBy is declarative and buffers the whole struct ordering
  * key; struct buffers can't live in HashAggregateExec's mutable row, so
  * the plan silently degrades to SortAggregate — which SORTS the entire
  * input before aggregating (for an argmin over a KNN pair stream, every
  * candidate pair). ArgMinBy keeps an O(1) typed buffer and runs in
  * ObjectHashAggregate with map-side partials. Ordering semantics match
  * (NaN greatest, tiebreak on the second field); MinBy's behavior on fully
  * duplicated (d, t) keys is already unspecified, which the rewrite
  * preserves.
  *
  * Null semantics: builtin MinBy compares the struct value itself, where a
  * null FIELD sorts smallest — a row with d=NULL can win; ArgMinBy skips
  * rows where d or t is null. The two only agree when neither ordering
  * field can be null, so the rewrite is guarded on
  * `ord.valExprs.forall(!_.nullable)` and plans with nullable ordering
  * fields keep the builtin (slower, but exactly SQL-semantic) MinBy.
  *
  * Injected via [[graft.GraftExtensions]] (`spark.sql.extensions`).
  */
object RewriteMinByStruct extends Rule[LogicalPlan] {
  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
  private def numeric(e: Expression): Boolean =
    integral(e) || e.dataType == DoubleType || e.dataType == FloatType

  // ArgMinBy orders an integral first field as an exact long, so long
  // keys >= 2^53 keep the builtin's exact struct order
  private def rewritable(ord: CreateNamedStruct): Boolean =
    ord.valExprs.size == 2 &&
      numeric(ord.valExprs.head) && integral(ord.valExprs(1)) &&
      ord.valExprs.forall(!_.nullable)

  private def argBy(payload: Expression, ord: CreateNamedStruct,
                    max: Boolean): AggregateFunction =
    ArgMinBy.coerced(payload, ord.valExprs.head, ord.valExprs(1), max = max)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ae @ AggregateExpression(MinBy(payload, ord: CreateNamedStruct), _, false, None, _)
        if rewritable(ord) =>
      ae.copy(aggregateFunction = argBy(payload, ord, max = false))
    case ae @ AggregateExpression(MaxBy(payload, ord: CreateNamedStruct), _, false, None, _)
        if rewritable(ord) =>
      ae.copy(aggregateFunction = argBy(payload, ord, max = true))
  }
}
