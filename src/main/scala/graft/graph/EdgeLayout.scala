package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared edge-checkpoint layout for the iterative graph operators: ONE
  * full-edge shuffle hash-partitioned on the iteration join key, sorted
  * within partitions, deduplicated WITHOUT a hash aggregate.
  *
  * Why not `repartition(key).dropDuplicates(key, other)`: hash(key) does
  * satisfy the dedup's clustering, so the aggregate plans exchange-free —
  * but a COMPLETE-mode HashAggregate then stacks a per-task hash map of
  * every distinct edge in the partition ON TOP of the sort buffers and
  * the cache-block builder in the SAME stage. At sf100 (1.2B edges / 32
  * partitions = 37M keys per task) that stack OOMs a 48 g heap where the
  * old two-stage distinct-then-repartition survived. The window form
  * keeps the single exchange and restores the old per-stage memory
  * profile: sort by (key, other) — a prefix-compatible strengthening of
  * the layout sort the checkpoint needs anyway — then keep the first row
  * of each duplicate run via `row_number() = 1`, which the optimizer
  * rewrites to a STREAMING WindowGroupLimit over the sorted run (no
  * per-task map, spill-free, duplicate-run-sized buffers).
  *
  * Output: hash(key)-partitioned, sorted by (key, other) — which
  * satisfies every downstream requirement on `key` alone (ordering
  * prefix, clustering subset). */
object EdgeLayout {

  /** Symmetrize an undirected pair table into a directed (src, dst) edge
    * list in ONE pass: `explode(array(fwd, bwd))` emits both directions
    * inside the same (codegen'd) projection, so the possibly-expensive
    * pair-building subtree is computed once and streamed — unlike
    * `p.unionAll(p.swapped)`, whose two branches each re-execute the
    * subtree above its last exchange (measured at sf100: the
    * orders⋈lineitem construction join ran twice inside the edge
    * repartition's map stage). `carry` columns ride along unchanged
    * (e.g. an edge weight). */
  def symmetrize(pairs: DataFrame, u: String, v: String,
                 carry: Seq[String] = Nil): DataFrame = {
    val fwd = struct(col(u).as("src") +: col(v).as("dst") +: carry.map(col): _*)
    val bwd = struct(col(v).as("src") +: col(u).as("dst") +: carry.map(col): _*)
    pairs.select(explode(array(fwd, bwd)).as("__e"))
      .select(col("__e.src").as("src") +: col("__e.dst").as("dst") +:
        carry.map(c => col(s"__e.$c").as(c)): _*)
  }

  /** One-exchange layout + dedup.
    *
    * Column contract: the input is projected to exactly (key, other) at
    * entry — a caller-supplied extra column (say a weight) would
    * otherwise survive with a value chosen nondeterministically from the
    * duplicate run by row_number, a silent correctness trap. Callers
    * needing a value-merging dedup over extra columns must merge
    * explicitly (see [[PageRank.personalizedWeighted]]'s window-sum
    * weight merge).
    *
    * No explicit sort: the window's requirement
    * [key, other, other] does NOT collapse against a hand-written
    * [key, other] `sortWithinPartitions`, so providing one makes
    * EnsureRequirements stack a SECOND full-edge sort on top (measured:
    * the plan carried Sort-on-Sort of 1.2B rows). Letting the planner
    * insert its one sort gives the same physical order, and the window
    * output's [key, other, other] ordering prefix-satisfies every
    * downstream requirement on `key`. */
  def partitionedDistinct(edges: DataFrame, key: String, other: String): DataFrame = {
    val w = Window.partitionBy(key, other).orderBy(other)
    edges.select(col(key), col(other)).repartition(col(key))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
