package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-level guards against the corpus-cardinality broadcast class of bug
  * (round-8 verdict items #3/#4): a `broadcast()` hint on a table whose row
  * count grows with the corpus (one row per document, per user, ...) is
  * invisible at sf0.1 and an executor OOM at 100 TB. These tests assert the
  * *executed* plan shape so a regression fails here, not on a cluster.
  *
  * Broadcasts of genuinely bounded sides (dim tables, |dims|-row stats,
  * k-row centroids) are fine and not asserted against.
  */
class ScaleGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Q73MaxNodes = 140

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf0001)
    df.collect() // executes THIS QueryExecution so AQE's plan is final
    df.queryExecution.executedPlan.toString
  }

  test("q100_pipeline_e2e: keep-first dedup is a window, not a corpus semi-join") {
    // packOffsets legitimately broadcasts its O(buckets) offset table, so
    // "no BroadcastExchange" is too strict here; the regression being
    // guarded is the corpus-cardinality keepers table coming back as a
    // (broadcast) LEFT SEMI join on doc_id — assert the join shape is gone
    // and the md5 keep-first window took its place.
    val plan = executedPlan("q100_pipeline_e2e")
    assert(!plan.contains("LeftSemi"),
      s"q100 re-grew the keepers semi-join (corpus-cardinality build side at scale):\n$plan")
    assert(plan.contains("md5"), "expected the md5(text) keep-first window partition key")
    assert(plan.contains("Window"), "expected the keep-first window")
  }

  test("q137_retention: cohort week is a window over user_id, not a per-user broadcast") {
    val plan = executedPlan("q137_retention")
    assert(!plan.contains("BroadcastExchange"),
      s"q137 plan re-grew a broadcast on the per-user side:\n$plan")
    assert(plan.contains("Window"), "expected min(wk) over partition by user_id")
  }

  test("q93_standardize: the only broadcast side is the |dims|-row stats table") {
    // q93 DOES broadcast — legitimately: the stats side is one row per
    // embedding dimension (bounded by the model, not the corpus). Pin that
    // the broadcast subtree aggregates on dim, so a refactor that
    // accidentally broadcasts the exploded fact side trips this.
    val plan = executedPlan("q93_standardize")
    assert(plan.contains("BroadcastExchange"), "q93 should broadcast the per-dim stats")
    // the broadcast feeds a BroadcastHashJoin whose build side aggregated on
    // dim — if the fact stream (posexplode output) were the build side there
    // would be no HashAggregate under the exchange
    assert(plan.contains("HashAggregate"),
      "broadcast side should be the aggregated stats, not the fact stream")
  }

  test("q193_balanced_shards: global rank is bucketed, not a corpus-wide window") {
    // the scale cliff being guarded: row_number() over (ORDER BY w) with no
    // partition — every row through ONE partition. The two-phase form keeps
    // a __bucket partition key on the corpus-side window; the only
    // unpartitioned window runs over the O(buckets) offset table, whose
    // broadcast back is the plan's BroadcastExchange.
    val plan = executedPlan("q193_balanced_shards")
    assert(plan.contains("__bucket"),
      s"expected the value-range __bucket partition key in the rank window:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      "expected the O(buckets) offset table broadcast back")
  }

  test("q261_analyze_columns: the stack unpivot profiles all columns in ONE scan") {
    // the whole point of the stack form is one pass over the table; a
    // refactor to per-column aggregates would read the parquet 6 times.
    // Count scans in the FINAL plan only — AQE's toString appends an
    // "== Initial Plan ==" echo that would double-count.
    val plan = executedPlan("q261_analyze_columns")
      .split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one parquet scan, saw $scans:\n$plan")
  }

  test("q256_systematic_pps: prefix sum is bucketed, not a corpus-wide window") {
    // the PPS cumulative-weight line must come from GlobalRank's
    // two-phase decomposition: per-bucket windows keyed by __bkt, with
    // the offset table broadcast back — a corpus-wide ordered window
    // here would single-partition the whole doc table at 100 TB
    val plan = executedPlan("q256_systematic_pps")
    assert(plan.contains("__bkt"),
      s"expected the bucketed prefix-sum partition key:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      "expected the O(buckets) offset broadcast")
  }

  test("q281_pareto_frontier: running max is bucketed, not a corpus-wide window") {
    val plan = executedPlan("q281_pareto_frontier")
    assert(plan.contains("__bkt"),
      s"expected the two-phase prefix-MAX bucket key:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      "expected the O(buckets) offset broadcast")
  }

  test("q239_merkle_audit: two keyed digest aggs, no broadcast, no corpus sort") {
    // the Merkle shape that scales: row hashes shuffle ONCE on the
    // bucket key, bucket digests re-aggregate to one row — per-group
    // state is |rows|/16^prefixChars by construction. A global Sort or
    // any BroadcastExchange here means the digest replanned through a
    // corpus-wide path.
    val plan = executedPlan("q239_merkle_audit")
    assert(!plan.contains("BroadcastExchange"),
      s"q239 must not broadcast anything:\n$plan")
    assert(plan.contains("collect_list"),
      "expected per-bucket sorted row-hash digests via collect_list")
    assert(!plan.contains("Sort ["),
      s"digest ordering is array_sort inside the agg, not a plan Sort:\n$plan")
  }

  test("requireEvalBound: fail-loud past the bound, pass-through inside it") {
    // q224's "eval-set², not corpus²" contract is enforced by
    // Similarity.requireEvalBound — prove both arms with a tiny bound so
    // the 100k production bound never needs a 100k-row fixture.
    import spark.implicits._
    val small = (1 to 5).map(i => (i.toLong, s"v$i")).toDF("id", "x")
    val big = (1 to 12).map(i => (i.toLong, s"v$i")).toDF("id", "x")
    // inside the bound: same frame back, usable for chaining
    assert(graft.similarity.Similarity.requireEvalBound(small, 10L).count() == 5)
    // past the bound: IllegalArgumentException naming the contract
    val e = intercept[IllegalArgumentException] {
      graft.similarity.Similarity.requireEvalBound(big, 10L, "test eval")
    }
    assert(e.getMessage.contains("test eval"))
    assert(e.getMessage.contains("eval-set"))
  }

  test("q200_link_prediction: hub-degree cap prunes apexes before the wedge self-join") {
    // r17: the capped adjacency is lineage-truncated, so the semi join
    // runs at checkpoint materialization and no longer renders in the
    // final plan — assert the cap's PLACEMENT by value instead, on a
    // fixture where it is observable: a deg-5 hub shared by (1, 2) must
    // not count toward their common-neighbor total (apex enumeration is
    // capped), while the jaccard denominator keeps FULL degrees.
    import spark.implicits._
    val edges = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L), (5L, 100L),
      (1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L)).toDF("u", "v")
    val out = graft.graph.LinkPrediction
      .jaccardPairs(edges, minCommon = 2, maxDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // common(1,2) = 2 (apexes 10 and 11; the deg-5 hub 100 is pruned —
    // a post-join cap would read 3); denominator = full deg 3 + 3 − 2
    assert(out((1L, 2L)) == (2L, 0.5), out)
    // no pair survives on hub-only evidence: (3,4)/(3,5)/(4,5) share
    // ONLY the pruned hub and must be absent
    assert(!out.contains((3L, 4L)) && !out.contains((3L, 5L)) &&
      !out.contains((4L, 5L)), out)
  }

  test("q28_lambert93: the latitude is one expression, not an unrolled iteration tree") {
    // the fixed-point latitude spelled as builtin columns re-inlines φ (and
    // the x/y column math) twice per step: 8,966 optimized-plan expression
    // nodes, walked by every optimizer rule before any data moves
    val df = SparkEntry.queries("q28_lambert93")(spark, TestSpark.sf0001)
    val nodes = graft.tools.PlanAudit.expressionNodes(df.queryExecution.optimizedPlan)
    assert(nodes <= 50, s"q28 optimized plan has $nodes expression nodes:\n" +
      df.queryExecution.optimizedPlan)
  }

  test("q21_chi2: degrees of freedom add no Expand and no shuffle") {
    // countDistinct on the two category columns planned an Expand and two
    // more shuffles after the global window; the level counts now ride the
    // final aggregate, so only the count table's two exchanges remain
    import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q21_chi2")(spark, TestSpark.sf0001)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan
    assert(!all.exists(_.isInstanceOf[ExpandExec]), s"q21 plans an Expand:\n$plan")
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 2, s"expected 2 shuffle exchanges, saw $shuffles:\n$plan")
  }

  // Exact per-query top-k runs on the TopKByScore aggregate: the pair
  // stream (the broadcast cross join) feeds an ObjectHashAggregate's
  // map-side partials and never a sort or a window, which would order
  // every candidate pair (a 26.9 GB spill at a 20k-vector eval set).
  for (q <- Seq("q27_ann_cosine", "q120_binary_hamming"))
    test(s"$q: the pair stream reaches a hash aggregate, not a Window or Sort") {
      import org.apache.spark.sql.execution.{SortExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
      import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
      import org.apache.spark.sql.execution.window.WindowExec
      def kids(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
      // the pair stream reaches `p` with no aggregate in between
      def pairsBelow(p: SparkPlan): Boolean = p match {
        case _: BroadcastNestedLoopJoinExec => true
        case _: ObjectHashAggregateExec => false
        case other => kids(other).exists(pairsBelow)
      }
      val df = SparkEntry.queries(q)(spark, TestSpark.sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val nodes = all(plan)
      assert(nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), s"no pair stream:\n$plan")
      assert(nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]), s"no top-k aggregate:\n$plan")
      assert(!nodes.exists(_.isInstanceOf[WindowExec]), s"$q plans a Window:\n$plan")
      assert(!nodes.exists(n => n.isInstanceOf[SortExec] && pairsBelow(n)),
        s"$q sorts the pair stream:\n$plan")
    }

  test("q73_ann_ivf: the centroid table is not inlined into the plan") {
    // the centroid table as literal structs, spelled twice (a greatest()
    // assignment and an array_sort probe ranking), read 514 optimized-plan
    // expression nodes; the reference-object kernels carry it as data (140)
    val df = SparkEntry.queries("q73_ann_ivf")(spark, TestSpark.sf0001)
    val nodes = graft.tools.PlanAudit.expressionNodes(df.queryExecution.optimizedPlan)
    assert(nodes <= Q73MaxNodes, s"q73 optimized plan has $nodes expression nodes:\n" +
      df.queryExecution.optimizedPlan)
  }

  /** Names of the optimized-plan nodes that call the expression
    * `prettyName`, one entry per call. */
  private def kernelSites(df: org.apache.spark.sql.DataFrame, prettyName: String): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case n => n }.flatMap { n =>
      val calls = n.expressions.map(_.collect { case e if e.prettyName == prettyName => e }.size).sum
      Seq.fill(calls)(n.nodeName)
    }

  test("q73_ann_ivf: the corpus-side cell kernel runs once per row") {
    // a nullable kernel let Spark infer isnotnull(cell) from the cell
    // equi-join and push it below the projection, where it called the
    // O(nCells·dim) kernel a second time per corpus row
    val df = SparkEntry.queries("q73_ann_ivf")(spark, TestSpark.sf0001)
    val sites = kernelSites(df, "nearest_centroid_cell")
    assert(sites == Seq("Project"), s"nearest_centroid_cell call sites $sites:\n" +
      df.queryExecution.optimizedPlan)
  }

  test("q108_semdedup: the k-means assignment runs once per row, never in a filter") {
    val df = SparkEntry.queries("q108_semdedup")(spark, TestSpark.sf0001)
    // one call on each side of the self-join, none in an inferred filter
    val sites = kernelSites(df, "nearest_centroid_l2")
    assert(sites == Seq("Project", "Project"), s"nearest_centroid_l2 call sites $sites:\n" +
      df.queryExecution.optimizedPlan)
  }

  // Training jobs are the k-means init collect and two per centroid update
  // (the mean aggregation's map stage and its collect): q105 and q108 train
  // with one update, q186 adds its probe-vector lookup. A job that only
  // reads the vector width, or a second aggregation per update, exceeds these.
  for ((q, maxJobs) <- Seq("q105_kmeans" -> 3, "q108_semdedup" -> 3, "q186_pq_topk" -> 4))
    test(s"$q: building the DataFrame runs at most $maxJobs jobs") {
      val jobs = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, TestSpark.sf0001))
      assert(jobs <= maxJobs, s"$q ran $jobs job(s) while its DataFrame was built")
    }

  // Building a single-table query is driver work only: the table read takes
  // its schema from one footer (Tables.parquetSchema), so no inference job
  // runs, and none of these queries runs an eager job while it is built.
  for (q <- Seq("q01_agg_pricing", "q05_winsorize", "q13_grouped_stats", "q19_corr_cov",
      "q20_regression_closed", "q21_chi2", "q22_anova", "q43_clean_chain"))
    test(s"$q: building the DataFrame launches no Spark job") {
      val jobs = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, TestSpark.sf0001))
      assert(jobs == 0, s"$q ran $jobs job(s) while its DataFrame was built")
    }
}
