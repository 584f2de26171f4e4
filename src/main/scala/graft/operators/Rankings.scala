package graft.operators

import graft.functions.TopKByScore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking / top-k / mode operators (SURVEY.md §2.5, W1-W2, A7).
  *
  * All ranking is over an explicit deterministic ordering — ties must be
  * broken by a total order so results are stable across engines,
  * partitionings, and scale (SURVEY.md §7 hard-part 5).
  */
object Rankings {

  /** W1 — top-k rows per group by explicit order. Single shuffle on the
    * group keys; rank pruning happens before any downstream join, so the
    * post-filter cardinality is |groups| × k regardless of input size.
    * The window sorts its whole input, so a (double DESC, long ASC) order
    * belongs to [[topKByScore]]; this form stays for the orders
    * TopKByScore cannot express, such as q194's string tie-break. */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__graft_rank", row_number().over(w))
      .filter(col("__graft_rank") <= k)
      .drop("__graft_rank")
  }

  /** Top-k rows per group by (score DESC, tie ASC) — exactly the rows
    * `row_number() OVER (PARTITION BY keys ORDER BY score DESC, tie ASC)
    * <= k` selects, with that rank as the INT column `rankCol`. Built on
    * the bounded-buffer [[graft.functions.TopKByScore]] aggregate: an
    * ObjectHashAggregate with map-side partials, so the input collapses to
    * |groups|·k rows before it shuffles and is never sorted (the window
    * form sorts every row; for a kNN pair stream that is every pair).
    * `score` is compared as a double and `tie` as a long, which must be
    * unique within a group. Output: `keys`, `rankCol`, `payload`. Orders
    * outside that shape stay on [[topKPerGroup]]. */
  def topKByScore(df: DataFrame, keys: Seq[String], score: Column, tie: Column,
                  k: Int, payload: Seq[String], rankCol: String = "rank"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(TopKByScore(struct(payload.map(col): _*), score, tie, k).as("__graft_top"))
      .select(keys.map(col) :+ posexplode(col("__graft_top")).as(Seq("__graft_pos", "__graft_row")): _*)
      .select(keys.map(col) ++ ((col("__graft_pos") + 1).as(rankCol) +:
        payload.map(p => col("__graft_row").getField(p).as(p))): _*)

  /** A7 — mode (most frequent value) of `valueCol` per group, ties broken by
    * value ascending (ref `R_groupe4.R:194-198`:
    * `group_by %>% summarise(n()) %>% arrange(desc(count)) %>% slice(1)`;
    * R tie-breaks by prior row order — we substitute a total order on the
    * value, documented deviation per SURVEY.md §7-5).
    *
    * Two-phase: pre-aggregate counts (map-side partial agg shrinks the
    * shuffle to |distinct (key, value)| rows), then rank within key. The
    * window input is already tiny, so this scales to arbitrary row counts.
    */
  def modePerGroup(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val counts = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cnt").desc, col(valueCol).asc)
    counts.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
      .withColumnRenamed(valueCol, s"${valueCol}_mode")
  }
}
