package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Global ordered prefix sums and running maxima over one numeric order
  * column, on [[PrefixSum]]'s read-once scan: a naive
  * `sum(w) OVER (ORDER BY v)` is a SINGLE-partition window over the whole
  * relation — the q84 scale cliff — while PrefixSum keeps every row in its
  * range partition. A row whose order value is NULL is dropped (PrefixSum's
  * null contract). */
object GlobalRank {

  /** Adds `cum_before` = Σ weight over rows STRICTLY before this row in
    * `orderCol`-ascending order. `orderCol` must be unique per row (use a
    * distinct-value table; ties would make "before" ambiguous). */
  def exclusivePrefixSum(df: DataFrame, orderCol: String, weightCol: String): DataFrame =
    exclusivePrefixSums(df, orderCol, Seq(weightCol))
      .withColumnRenamed(s"cum_before_$weightCol", "cum_before")

  /** Exclusive running MAX over the global `orderCol` order: adds
    * `max_before` = max of `valueCol` over rows STRICTLY before this row;
    * NULL for the global first row. `orderCol` must be unique per row
    * (pre-group ties away, as [[exclusivePrefixSum]] requires). Powers the
    * q281 Pareto frontier. */
  def exclusivePrefixMax(df: DataFrame, orderCol: String, valueCol: String): DataFrame =
    PrefixSum(df, Seq(col(orderCol)), PrefixSum.Max(col(valueCol), "max_before"))

  /** Multi-weight form: one scan carries ALL the weights at once. Adds
    * `cum_before_<w>` per weight column — the shape ECDF-style consumers
    * need (e.g. the two-sample KS statistic: both samples' cumulative
    * counts over one shared value order). */
  def exclusivePrefixSums(df: DataFrame, orderCol: String,
                          weightCols: Seq[String]): DataFrame =
    PrefixSum(df, Seq(col(orderCol)),
      weightCols.map(w => PrefixSum.Sum(col(w), s"cum_before_$w")): _*)
}
