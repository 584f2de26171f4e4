package graft.tools

import graft.Queries
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of headline queries as
  * committed evidence of scan pruning / pushdown / join strategy / partial
  * aggregation. Run: `sbt "runMain graft.tools.DumpPlans"`; two runs of
  * one commit write byte-identical files (see [[normalize]]). */
object DumpPlans {
  private val PlanId = "\\[plan_id=(\\d+)\\]".r

  /** Spark numbers plan nodes from one JVM-wide counter that async work
    * (AQE stages, broadcasts) also draws from, so a plan's `[plan_id=N]`
    * values vary from run to run: renumber them 1, 2, … in order of first
    * appearance within the plan. The application id (q80's partitioned
    * temp directory is named after it) becomes `<app-id>`. */
  private def normalize(plan: String, appId: String): String = {
    val ids = scala.collection.mutable.Map[String, Int]()
    PlanId.replaceAllIn(plan.replace(appId, "<app-id>"),
      m => s"[plan_id=${ids.getOrElseUpdate(m.group(1), ids.size + 1)}]")
  }

  val headline: Seq[(String, String)] = Seq(
    "q01_agg_pricing" -> "partial+final hash agg; 5-of-11 column pruned scan",
    "q04_filter_isin" -> "In/range predicates pushed into the parquet scan",
    "q09_join_star" -> "dims broadcast — fact side never shuffles",
    "q17_knn_impute" -> "custom arg_min_by in ObjectHashAggregate (map-side partials over the pair stream)",
    "q30_topk_per_group" -> "rank window after shuffle on the group key only",
    "q47_revenue_by_nation" -> "5-way star: broadcast dims + single fact co-key shuffle; date filter at the scan",
    "q52_range_join" -> "range join as bin-exploded broadcast hash join (no nested loop)",
    "q58_top_bigrams" -> "global top-k via TakeOrderedAndProject (parallel partial heaps, no single-partition window exchange)",
    "q69_cosine_neardup" -> "exact cosine near-dup: grid-cell equi-join (no cross join), per-row norms, tight-loop dot verify",
    "q73_ann_ivf" -> "IVF-flat ANN: centroid table carried by nearest_centroid_cell / top_probe_cells (O(1) plan size in nCells), shuffle-free cell assignment (pure projection), probe-cell equi-join, top-k in ObjectHashAggregate (top_k_by, map-side partials)",
    "q80_partition_prune" -> "date-partitioned layout: PartitionFilters prune whole day-directories at planning time (3 of 30 read); filter never touches file contents",
    "q85_pack_slices" -> "token offsets from one PrefixSum: a range exchange on doc_id, per-partition totals read from that shuffle, one sorted map pass (no unpartitioned window), then codegen'd explode over each doc's spanned sequences",
    "q87_asof_nearest" -> "both as-of directions from ONE exchange+sort: a single Window operator computes the backward carry (preceding frame) and forward carry (following frame) over the same ordering",
    "q98_heavy_hitters" -> "SpaceSaving in ObjectHashAggregate (partial_space_saving_topk map-side, k counters per partition shuffle), then broadcast candidate recount",
    "q100_pipeline_e2e" -> "the composed curation pipeline as one lazy plan: scan -> codegen'd normalize/quality -> keep-first dedup window on md5(text) (NO BroadcastExchange on the corpus side) -> quota window -> PrefixSum packing over one range exchange (documents scanned once)",
    "q107_decontaminate" -> "decontamination: eval grams reduced to a broadcast distinct set — corpus side is a map-side hash semi-join, zero corpus-text shuffle",
    "q110_training_shuffle" -> "deterministic shuffle rank: PrefixSum's exclusive count over (md5 key, id) on one range exchange; no SinglePartition exchange, no broadcast",
    "q137_retention" -> "retention cohorts: first-week via min-over-window on the user_id shuffle (NO BroadcastExchange on the per-user side), then one hash agg",
    "q177_weighted_reservoir" -> "A-ES weighted reservoir: per-source rank filter plans as WindowGroupLimit (partial per-partition top-k heaps before the source shuffle, no full sort)",
    "q148_ks_test" -> "two-sample KS: BOTH cumulative counts ride one multi-weight PrefixSum over one range exchange — no corpus-wide window, no second pass",
    "q149_bloom_join" -> "runtime bloom pre-filter: bloom_build partials merge map-side (ObjectHashAggregate), the 1 KB bitset is inlined as a literal, and the fact scan's Filter applies the probe BEFORE the exchange — the shuffle carries only probable matches",
    "q193_balanced_shards" -> "token-balanced sharding: global rank by (weight desc, id) from one PrefixSum over a range exchange — no SinglePartition window, no broadcast; snake shard is pure projection",
    "q196_hits" -> "HITS power iteration: ONE src-partitioned edge checkpoint (dedup rides its repartition exchange-free); hub half-steps read it via a byte-gated auth BROADCAST so the groupBy(src) agg needs no exchange; max-normalizers are 1-row broadcast cross joins",
    "q200_link_prediction" -> "common-neighbor wedges: apex-cap left-semi prunes hub apexes BEFORE the self-join; exact-count hash agg; degree joins after the minCommon filter shrink the pair stream first",
    "q218_sorted_neighborhood" -> "sorted-neighborhood ER: global rank = PrefixSum's exclusive count over (key, doc_id) on one range exchange (no corpus-wide window); candidate pairs via rank-DIV-w band equi-join (no range cross-product); codegen'd JaroWinkler verify",
    "q221_quantile_normalize" -> "cross-source quantile normalization: within-source rank = per-(source, value) window + distinct-value prefix sums; the global lookup is a broadcast range join against the bounded cumulative histogram",
    "q224_knn_eval" -> "LOO kNN eval: norms computed once per vector (projection), tight-loop dot kernels in the 4M-pair cross join, per-query rank window on the bounded eval set",
    "q231_attribution" -> "first/last-touch attribution: hour-band + user equi-join (purchase probes two bands), min/max(struct) argmin/argmax in one hash agg, left join restores clickless purchases",
    "q239_merkle_audit" -> "Merkle digest: one hash agg per level (256 buckets, then root), sort inside the digest — partition-order-free, no corpus sort",
    "q251_small_qty_revenue" -> "TPC-H Q17 shape decorrelated: brand filter pushed to the part scan, the per-part threshold agg runs over the brand-restricted join (not the full fact), both joins broadcast the bounded side",
    "q253_referential_audit" -> "FK orphan checks: DISTINCT parent keys then left join — bounded dims broadcast by size stats WITHOUT hints; corpus-cardinality parents (orders/customer) shuffle-join, exactly as they must at scale",
    "q256_systematic_pps" -> "systematic PPS: GlobalRank prefix sum on one PrefixSum range exchange, 1-row total cross join, then the probe-count formula as pure projection",
    "q264_revenue_share" -> "share-of-parent: star joins broadcast the dims, ONE exact-cents hash agg on the fact, and the ratio windows run over the bounded 25-row nation table only",
    "q285_tpch_q20" -> "TPC-H Q20 shape decorrelated: one date+type-filtered fact scan (filters pushed), per-(part,supp) agg, correlated per-part total re-aggregated from the partials, broadcast joins between the bounded aggregates, left-semi into supplier",
    "q286_tpch_q22" -> "TPC-H Q22 shape: scalar-subquery average as a 1-row broadcast cross join, NOT EXISTS as a left-anti join on DISTINCT recent-order custkeys (date filter at the orders scan), bounded per-nation agg",
    "q108_semdedup" -> "SemDeDup after k-means training (eager init collect + one rounded-mean aggregation per update): one embeddings scan per join side (the injected copies come from an explode, not a union), nearest_centroid_l2 carries the centroid table (one call per row, in the projection), the vectors ride along from the assignment, and one left self-join on cluster (broadcast at this size) feeds a (id, cluster) count for the kept flag",
    "q293_clustering_depth" -> "clustering-depth audit: ONE tagged-explode fact scan builds all three layouts' extents; overlap counts via a linear endpoint sweep (two running counters in one window) — no interval self-join, no manifest^2",
    "q295_qld_retrieval" -> "Dirichlet QLD retrieval: per-doc tf as codegen'd HOF filters (zero shuffle before the 1-row collection-stats agg), stats broadcast back, top-10 via TakeOrderedAndProject",
    "q298_top_paths" -> "session paths: sessionize + in-session rank windows share ONE user_id exchange; rank filter bounds the per-session collect; global top-10 via TakeOrderedAndProject",
    "q301_tpch_q5" -> "TPC-H Q5 shape: region filter prunes the nation broadcast to 5 rows before the fact; date band pushed to the orders scan; the c_nationkey=s_nationkey cycle closes as a post-join filter, never a second fact pass",
    "q302_tpch_q6" -> "TPC-H Q6 shape: the full date+discount+quantity conjunction lands in PushedFilters, the scan reads 4 of 11 columns, and the only exchange is the 1-row partial-agg merge",
    "q309_tpch_q19" -> "TPC-H Q19 shape: the OR-of-ANDs' common support extracted onto each side — brand+size envelopes pushed to the part scan, qty in [1,30] pushed to the fact scan — broadcast join, residual disjunction as a codegen'd post-join filter",
    "q363_atr" -> "windowed-over-aggregated composition: the corpus collapses to hourly bars in ObjectHashAggregate with map-side partials (typed arg_max_by close — builtin max_by(struct) would sink this into sort-sort-SortAggregate), then lag/rolling-sum windows run per-series over the bounded bar relation only",
    "q365_interval_overlap" -> "interval-overlap join: each daily interval explodes into its <=5 covering 6h grid cells, the join is a cell equi-join (never an unbounded theta join), exact predicate verifies after",
    "q366_burrows_delta" -> "stylometry: corpus-scale work is ONE token-count agg; top-20 words and per-word mu/sigma broadcast; the source-pair join runs over the bounded 20-word z-matrix")

  def main(args: Array[String]): Unit = {
    // The production session (GraftExtensions included: RewriteMinByStruct
    // keeps struct min_by/max_by hash-aggregable) at a fixed 4 cores, so
    // the committed plan evidence does not depend on the host.
    val spark = graft.Session.local(4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    def explain(df: org.apache.spark.sql.DataFrame): String = normalize(
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode),
      spark.sparkContext.applicationId)
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by graft.tools.DumpPlans)\n\n")
    sb.append(s"Dataset: `$dir`. Regenerate after plan-affecting changes.\n")
    headline.foreach { case (name, note) =>
      val plan = explain(Queries.queries(name)(spark, dir))
      sb.append(s"\n## $name — $note\n\n```\n$plan```\n")
    }
    // q70's registry entry runs its fixpoint eagerly (checkpointed RDD scans
    // would be all the explain showed), so dump its candidate+verify stage —
    // the scale-critical plan — directly.
    val selfPairs = explain(graft.dedup.Dedup.ngramJaccardSelfPairs(
      graft.Tables.documents(spark, dir), "text", "doc_id", k = 2, threshold = 0.5,
      materializeShared = false)) // declarative form so the full tree is visible
    sb.append("\n## q70 pairs stage (ngramJaccardSelfPairs) — PPJoin prefix filter: " +
      "doc-freq agg + window rank on doc id, prefix-postings equi-join with " +
      "length+positional filters, merge-scan verify, distinct only on the " +
      "tiny verified output (production default materializes the shared " +
      "sets/ranked subtrees once via lazy localCheckpoint — shown " +
      "declarative here for plan visibility)\n\n```\n" + selfPairs + "```\n")
    // q78's registry entry materializes the shared postings subtree (the
    // self-join sides don't canonicalize to one exchange) — dump the
    // declarative form so the full winnow tree is visible.
    val winnow = explain(graft.dedup.Dedup.winnowNearDupPairs(
      graft.Tables.documents(spark, dir), "text", "doc_id",
      k = 3, w = 4, minShared = 8, maxDocFreq = 64, materializeShared = false))
    sb.append("\n## q78 (winnowNearDupPairs) — winnowing near-dup: one-pass " +
      "fingerprint expression, inverted-postings self equi-join (no cross " +
      "join), window df-cap skew guard (production default materializes the " +
      "kept-postings subtree once — shown declarative here for plan " +
      "visibility)\n\n```\n" + winnow + "```\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
    spark.stop()
  }
}
