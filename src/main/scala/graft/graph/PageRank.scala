package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank by power iteration — the third iterative-compute
  * pattern in the engine, beside Lloyd's k-means ([[graft.ml.KMeans]]) and
  * min-label connected components ([[graft.dedup.Dedup]]).
  *
  * Per iteration: pr' (node) = (1−d)/N + d·Σ_{in-neighbors u} pr(u)/outdeg(u)
  * — one join of the rank table to the edge list (shuffle on src), one
  * hash aggregation (shuffle on dst). Ranks and degrees stay fully
  * distributed; N rides a broadcast 1-row cross join. The iteration count
  * is fixed and small, so the unrolled plan needs no checkpoint seam
  * (lineage depth ~2 joins/iteration; for deep iteration counts reuse
  * io/Checkpoints like the CC fixpoint does).
  *
  * Engine-replayable arithmetic (the q105 k-means design rule): the
  * per-node incoming sum is order-nondeterministic in its float
  * association, so each iteration's rank is ROUNDED to `roundDp` decimals
  * — both engines then enter the next iteration with bit-identical
  * inputs, and a SQL oracle can replay the whole computation as unrolled
  * CTEs. The rounding perturbs ranks by ≤5e-9/iteration (roundDp=8),
  * far below any ranking use of PageRank.
  *
  * Caller contract: `edges` (src, dst) should be the graph's full edge
  * set; every node must have at least one OUT edge (no dangling-mass
  * term — symmetrize the graph or pre-drop sinks; the q133 caller
  * symmetrizes, which also guarantees every node receives mass). */
object PageRank {

  def iterate(edges: DataFrame, iters: Int = 2, damping: Double = 0.85,
              roundDp: Int = 8): DataFrame = {
    // The edge list is reused by outdeg, N, and EVERY iteration's join.
    // Checkpoint it ONCE, PRE-PARTITIONED ON src: LogicalRDD preserves the
    // hash partitioning, so outdeg's groupBy(src) and every iteration's
    // src-join reuse it shuffle-free — only the (node-cardinality) rank
    // table moves per round, never the edge table.
    // ...AND SORTED on src within partitions: LogicalRDD preserves the
    // output ordering too, so every iteration's sort-merge join reads the
    // edge side pre-sorted and sorts only the node-cardinality rank
    // table. Without this the SMJ re-sorted the full edge table EVERY
    // iteration — at 1.2B edges (sf100) that was 318 GB of sort spill for
    // two iterations; the checkpoint-time sort pays it exactly once.
    // dedup runs AFTER the repartition as a streaming window over the
    // sorted run (see [[EdgeLayout]]): ONE full-edge shuffle builds the
    // checkpoint instead of two (distinct-then-repartition), with the
    // old per-stage memory profile (no complete-mode hash map stacked on
    // the sort + cache build). Trade, documented: dedup no longer
    // combines map-side, so inputs with a HIGH duplicate-pair rate
    // shuffle more rows; the engine's callers build near-distinct edges
    // (join of unique orders to lineitem), where the saved exchange
    // dominates.
    // CHAINED (r18): the edge checkpoint is persisted lazily and the
    // outdeg aggregate below — its single linear consumer — materializes
    // both caches in ONE job, instead of a count job per checkpoint
    // (measured: each materializing action on this family costs its full
    // multi-stage scheduling latency locally, and at scale the saved
    // count job was a full cache scan).
    val e = graft.io.Checkpoints.truncateLayoutPreservingChained(
      EdgeLayout.partitionedDistinct(
        edges.select(col("src"), col("dst")), "src", "dst"))
    // outdeg is a FULL-EDGE aggregate fanned out to n, the rank seed and
    // every round's re-attach join. Unmaterialized, each of those
    // references replays the 1.2B-row (sf100) edge scan + hash agg — ~5
    // extra edge passes for iters = 2 (the HITS half-step lesson).
    // Persisting the node-cardinality table makes every replay a cheap
    // cached scan and keeps its hash(node) layout for the re-attach join.
    // Its materializing count IS n (all nodes have out-edges by
    // contract, so outdeg's keys ARE the nodes): n becomes a plan
    // LITERAL — the per-round broadcast-exchange jobs of the old 1-row
    // crossJoin disappear, and (1−d)/n constant-folds. n is
    // deterministic for given inputs, so the plan (and its codegen
    // class) is stable across runs.
    val (outdeg, n) = graft.io.Checkpoints.truncateLayoutPreservingCount(
      e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg")))
    // carrying outdeg inside the rank table collapses the old
    // per-iteration (e ⋈ pr ⋈ outdeg) double join into one.
    var prd = outdeg
      .select(col("node"), (lit(1.0) / lit(n)).as("pr"), col("outdeg"))
    for (i <- 1 to iters) {
      val contrib = e
        .join(prd.select(col("node").as("src"),
          (col("pr") / col("outdeg")).as("c")), Seq("src"))
        .select(col("dst").as("node"), col("c"))
      val next = contrib.groupBy("node")
        .agg(sum(col("c")).as("__in"))
        .select(col("node"),
          round(lit(1.0 - damping) / lit(n) + lit(damping) * col("__in"),
            roundDp).as("pr"))
      // re-attach outdeg only while another round still needs it
      prd = if (i < iters) next.join(outdeg, Seq("node")) else next
    }
    prd.select(col("node"), col("pr"))
  }

  /** Personalized weighted PageRank — random walk with restart: teleport
    * mass goes ONLY to the seed (the graph's ≺-minimum node, resolved from
    * the data so no literal id leaks into the operator), and transition
    * probability follows EDGE WEIGHTS (pr·w/Σ_out w) instead of uniform
    * out-degree. The recommendation primitive ("what is close to THIS
    * node?") that global PageRank's stationary mass cannot express.
    *
    * Same per-iteration shuffle shape as [[iterate]] plus one broadcast of
    * the 1-row seed; nodes with no incoming mass this round are restored
    * by a right join against the node set, so the seed's restart mass
    * never silently vanishes. Same round-per-iteration parity rule. */
  def personalizedWeighted(edges: DataFrame, iters: Int = 2,
                           damping: Double = 0.85, roundDp: Int = 8): DataFrame = {
    // same one-exchange layout as [[iterate]]/[[EdgeLayout]], with the
    // defensive weight merge as a window over the sorted (src, dst) run
    // instead of a complete-mode hash aggregate — the group total rides
    // an explicit full frame and the run collapses via row_number = 1.
    // NOTE: unlike EdgeLayout's pure-rank window this does NOT become a
    // streaming WindowGroupLimit (InferWindowGroupLimit requires ALL
    // window expressions to be rank-like; the co-resident full-frame sum
    // disables the rewrite) — it plans as a plain WindowExec whose
    // spillable buffer is bounded by the duplicate-run size, which still
    // avoids the complete-mode hash map of every distinct edge per task
    // no explicit sort: the planner inserts the window's one sort (an
    // explicit [src, dst] sortWithinPartitions would NOT collapse with
    // the window's [src, dst, dst] requirement and stacks a second
    // full-edge sort — see EdgeLayout.partitionedDistinct)
    val grp = org.apache.spark.sql.expressions.Window
      .partitionBy("src", "dst").orderBy("dst")
    val full = grp.rowsBetween(Long.MinValue, Long.MaxValue)
    // CHAINED edge persist + outw materialized by the seed aggregate —
    // one job fills both caches AND returns the seed, which becomes a
    // plan literal (deterministic min over the node set): the per-round
    // 1-row crossJoin broadcast exchanges disappear (see iterate).
    val e = graft.io.Checkpoints.truncateLayoutPreservingChained(
      edges.repartition(col("src"))
        .select(col("src"), col("dst"),
          sum(col("w")).over(full).as("__wt"),
          row_number().over(grp).as("__rn"))
        .filter(col("__rn") === 1)
        .select(col("src"), col("dst"), col("__wt").as("w")))
    // same fan-out as iterate's outdeg (seed, the rank seed, two joins
    // per round): persist the node-cardinality weight-sum table so each
    // reference replays a cached scan, not the full-edge aggregate
    val (outw, seedV) = graft.io.Checkpoints.truncateLayoutPreservingAgg(
      e.groupBy(col("src").as("node")).agg(sum(col("w")).as("wout")))(
      _.agg(min(col("node"))).head().get(0))
    val seed = lit(seedV)
    var pr = outw
      .select(col("node"),
        when(col("node") === seed, lit(1.0)).otherwise(lit(0.0)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.select(col("node").as("src"), col("pr")), Seq("src"))
        .join(outw.select(col("node").as("src"), col("wout")), Seq("src"))
        .select(col("dst").as("node"), (col("pr") * col("w") / col("wout")).as("c"))
      pr = contrib.groupBy("node").agg(sum(col("c")).as("__in"))
        .join(outw.select("node"), Seq("node"), "right")
        .select(col("node"),
          round(when(col("node") === seed, lit(1.0 - damping))
            .otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("__in"), lit(0.0)), roundDp).as("pr"))
    }
    pr.select(col("node"), col("pr"))
  }
}
