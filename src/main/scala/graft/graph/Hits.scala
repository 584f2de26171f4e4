package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg 1999) by power iteration over a
  * DIRECTED edge list — the directed companion to [[PageRank]]: a good
  * hub points at good authorities, a good authority is pointed at by good
  * hubs. On the customer→supplier purchase graph this separates
  * broad-basket buyers (hubs) from widely-bought-from suppliers
  * (authorities), which PageRank's single score conflates.
  *
  * Per half-iteration: one join of the score table to the edge list
  * (shuffle on the score side's key) + one hash agg on the other
  * endpoint — identical shuffle shape to PageRank, fully distributed.
  *
  * Engine-replayable arithmetic (the PageRank design rule): incoming
  * float sums are rounded to `roundDp` each half-step, and normalization
  * is by the MAX score — an order-independent reduction — rather than the
  * conventional L2/L1 norm, whose order-dependent float total would
  * diverge across engines. Max-normalized HITS converges to the same
  * ranking (power iteration is invariant up to scaling).
  *
  * DAG shape: unlike PageRank's rank chain — where each score table is
  * referenced exactly once per round, so the unrolled plan is linear —
  * HITS references every half-step table 2–3× (its own max-normalization
  * reads it twice, the next half-step and the final union read it again).
  * Left unmaterialized, those shared subtrees replicate MULTIPLICATIVELY
  * when Spark expands the DAG to a tree: 4 half-steps over 2 iterations
  * re-ran the first join up to 2^4 times (measured as the r16 q196 3–4×
  * wall regression; PLAN_AUDIT showed the scalar-max branches ×22). Each
  * half-step's NODE-cardinality score table is therefore persisted
  * layout-preservingly (the [[graft.io.Checkpoints]] seam): the chain is
  * linear again, each join runs once, and the preserved hash(node)
  * layout feeds the next half-step's join exchange-free.
  *
  * Caller contract: edges are directed (src, dst); hubs are scored over
  * nodes with out-edges, authorities over nodes with in-edges (for the
  * bipartite purchase graph that is exactly customers / suppliers). */
object Hits {

  /** Returns (kind ∈ {hub, auth}, node, score) with score ∈ (0, 1],
    * max-normalized, rounded to 6 dp. */
  def iterate(edges: DataFrame, iters: Int = 2, roundDp: Int = 8): DataFrame = {
    require(iters >= 1)
    val spark = edges.sparkSession
    // One checkpointed edge copy, pre-hashed AND pre-sorted on src (the
    // hub→auth half-step's join key): LogicalRDD/InMemoryRelation
    // preserve both, so no iteration re-shuffles or re-sorts the edge
    // table — only node-cardinality score tables move per round (the
    // PageRank.iterate seam).
    // The dedup runs AFTER the repartition as a streaming window over
    // the sorted run (see [[EdgeLayout]]): one full-edge shuffle builds
    // the src copy instead of two (distinct-then-repartition).
    // The checkpoint's materializing action IS the gate's HLL estimate
    // (r18): one job builds the cache and returns nDst, where the old
    // count-then-agg pair paid two.
    val (eSrc, nDst) = graft.io.Checkpoints.truncateLayoutPreservingAgg(
      EdgeLayout.partitionedDistinct(
        edges.select(col("src"), col("dst")), "src", "dst"))(
      _.agg(approx_count_distinct(col("dst"), 0.05)).head().getLong(0))
    // The auth→hub half-step joins on dst, the OTHER key. Two designs,
    // byte-gated like the Dedup family's broadcast gate:
    //   - broadcast auth (|dst|-cardinality — suppliers in the bipartite
    //     purchase graph, small by construction): the h0 join becomes a
    //     broadcast-hash against eSrc, whose hash(src) partitioning and
    //     src sort SURVIVE the join, so the groupBy(src) aggregate runs
    //     exchange-free too — the half-step moves ZERO rows besides the
    //     broadcast itself, and the second edge checkpoint (its
    //     full-edge repartition(dst) shuffle + 1× edge storage)
    //     disappears from the plan entirely.
    //   - past the gate (auth side grows with the corpus): keep the
    //     second pre-hashed + pre-sorted edge copy keyed on dst, paying
    //     the one-time shuffle so per-round joins stay edge-stationary.
    // The gate reads an HLL estimate off the cached checkpoint (one
    // cheap columnar scan; iterate always needs the decision, so the
    // eager head() costs exactly one small job). 64 B/row models a
    // broadcast HashedRelation entry for a (long node, double score)
    // row — key + row + map overhead; the estimate is padded 1.1× so
    // the HLL's rsd 0.05 cannot flip the gate to an oversized broadcast
    // at the byte boundary (an underestimate now needs to be >10% off,
    // ~2σ, to admit one).
    // Default 256 MB (~3.7M auth nodes), matching the Dedup family's
    // gate — NOT Spark's 10 MB autoBroadcast default, because the
    // fallback here is far more expensive than a plain shuffled join:
    // it is a full-edge repartition(dst) shuffle PLUS a second persisted
    // edge copy, both O(|E|), where the broadcast is O(|V_dst|) per
    // executor per round and |E| ≫ |V| on every engine graph (measured
    // at sf100: the gate flipping to the eDst path at a 70 MB estimate
    // cost +13.7 GB shuffle and +90 GB spill from the second 1.2B-row
    // copy). The gate exists to protect executor memory from
    // genuinely-huge auth sets, not to minimize broadcast traffic.
    val maxBytes = spark.conf
      .get("spark.graft.graph.broadcastMaxBytes", (256L << 20).toString).toLong
    val broadcastAuth = nDst * 64L * 11L / 10L <= maxBytes
    val eDst: Option[DataFrame] =
      if (broadcastAuth) None
      else Some(graft.io.Checkpoints.truncateLayoutPreserving(
        eSrc.repartition(col("dst")).sortWithinPartitions("dst")))
    // Each half-step: join scores to edges, aggregate on the other
    // endpoint, persist (linear chain — see DAG-shape scaladoc), then
    // max-normalize. The persist's materializing action computes the max
    // (r18): ONE job per half-step instead of count-then-broadcast, and
    // the normalizer is a plan LITERAL (deterministic max of rounded
    // sums), so the old 1-row crossJoin broadcast exchange disappears.
    def normalized(rawAgg: DataFrame): DataFrame = {
      val (raw, mxRow) = graft.io.Checkpoints.truncateLayoutPreservingAgg(
        rawAgg)(_.agg(max(col("__raw"))).head())
      val mx = if (mxRow.isNullAt(0)) lit(null).cast("double")
               else lit(mxRow.getDouble(0))
      raw.select(col("node"), round(col("__raw") / mx, roundDp).as("score"))
    }
    def halfStep(scores: DataFrame, edgeKey: String, outKey: String,
                 edgeSide: DataFrame): DataFrame = normalized(
      edgeSide.join(
          if (broadcastAuth && edgeKey == "dst")
            broadcast(scores.withColumnRenamed("node", edgeKey))
          else scores.withColumnRenamed("node", edgeKey),
          Seq(edgeKey))
        .groupBy(col(outKey).as("node"))
        .agg(round(sum(col("score")), roundDp).as("__raw")))
    // First half-step algebraically collapsed (r18): hub₀ is 1.0 on every
    // src, and every eSrc row matches its src's hub₀ row, so the raw auth
    // score is just the per-dst sum of 1.0 — the hub₀ distinct AND its
    // join are gone; value-identical (sums of exact 1.0s).
    var auth = normalized(
      eSrc.groupBy(col("dst").as("node"))
        .agg(round(sum(lit(1.0)), roundDp).as("__raw")))
    var hub = halfStep(auth, "dst", "src", eDst.getOrElse(eSrc))
    for (_ <- 2 to iters) {
      auth = halfStep(hub, "src", "dst", eSrc)
      hub = halfStep(auth, "dst", "src", eDst.getOrElse(eSrc))
    }
    hub.select(lit("hub").as("kind"), col("node"),
        round(col("score"), 6).as("score"))
      .unionByName(auth.select(lit("auth").as("kind"), col("node"),
        round(col("score"), 6).as("score")))
  }
}
