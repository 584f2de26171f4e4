package graft

import graft.dedup.Dedup
import graft.functions.Lambert93
import graft.ml.Models
import graft.multimodal.Multimodal
import graft.operators.{Cleaning, Impute, Rankings}
import graft.similarity.Similarity
import graft.stats.Stats
import graft.streaming.EventsStream
import graft.text.{Mixing, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries q262–q300 (39 entries) — path/top-k analytics, RFM, post-stratification, novelty,
  * shard stats and audit ops.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart6 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // Incremental aggregate maintenance — the partial-state merge every
    // materialized view / streaming rollup is built on: each "batch"
    // (orderdate half) computes mergeable per-nation partials (count,
    // cent sum, min, max), and the published rollup is ONE merge of the
    // partials — count/sum add, min/max fold — never a rescan of closed
    // batches. The oracle computes the rollup DIRECTLY, proving
    // merge(partials) ≡ full recompute, which is the contract that makes
    // incremental maintenance sound. Exact longs end to end.
    "q262_partial_agg_merge" -> ((s, d) => {
      val o = ord(s, d)
        .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")), "o_custkey")
        .select(col("c_nationkey"),
          (year(col("o_orderdate")) < 1997).as("__old"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val partials = o.groupBy("c_nationkey", "__old").agg(
        count(lit(1)).as("pn"), sum(col("cents")).as("psum"),
        min(col("cents")).as("pmin"), max(col("cents")).as("pmax"))
      partials.groupBy("c_nationkey").agg(
        sum(col("pn")).as("n_orders"), sum(col("psum")).as("sum_cents"),
        min(col("pmin")).as("min_cents"), max(col("pmax")).as("max_cents"),
        count(lit(1)).as("n_batches"))
    }),
    // k-anonymity audit — the privacy gate before a demographic export:
    // group sizes over the quasi-identifier (nation, segment, account-
    // balance band), then the at-risk row/group counts at k = 2/5/10 in
    // one sweep (the q257 pattern over the bounded QI-group table). The
    // balance band rides exact cents (floor on a float division would
    // seam at band edges) OFFSET to nonnegative before the integer
    // division — balances go negative, and SQL DIV truncates toward zero
    // while DuckDB's // floors, so a negative operand would band
    // differently per engine. Everything else is exact counting.
    "q263_k_anonymity" -> ((s, d) => {
      val qi = Tables.customer(s, d).select(col("c_nationkey"),
          col("c_mktsegment"),
          expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) " +
            "DIV 100000 - 1000").as("__band"))
        .groupBy("c_nationkey", "c_mktsegment", "__band")
        .agg(count(lit(1)).as("__sz"))
      qi.select(col("__sz"), explode(array(lit(2L), lit(5L), lit(10L)))
          .as("k"))
        .groupBy("k").agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("__sz") < col("k"), 1L).otherwise(0L))
            .as("groups_below_k"),
          sum(when(col("__sz") < col("k"), col("__sz")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("__sz")).as("__total"))
        .select(col("k"), col("n_groups"), col("groups_below_k"),
          col("rows_at_risk"),
          round(col("rows_at_risk").cast("double") / col("__total"), 4)
            .as("risk_rate"))
    }),
    // Share-of-parent rollup — the ratio-to-parent BI primitive (nation
    // share within region, region share of total) from ONE exact-cents
    // aggregation: the share windows run over the BOUNDED nation table
    // (25 rows), never the fact stream; ratios divide exact longs.
    "q264_revenue_share" -> ((s, d) => {
      val rev = li(s, d)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("cents"))
        .join(ord(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey")), "l_orderkey")
        .join(Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")), "o_custkey")
        .join(broadcast(Tables.nation(s, d).select(
          col("n_nationkey").as("c_nationkey"), col("n_name"),
          col("n_regionkey"))), "c_nationkey")
        .join(broadcast(Tables.region(s, d).select(
          col("r_regionkey").as("n_regionkey"), col("r_name"))),
          "n_regionkey")
        .groupBy("r_name", "n_name").agg(sum(col("cents")).as("cents"))
      rev
        .withColumn("region_cents",
          sum(col("cents")).over(Window.partitionBy("r_name")))
        .withColumn("total_cents",
          sum(col("cents")).over(Window.partitionBy(lit(1))))
        .select(col("r_name"), col("n_name"), col("cents"),
          round(col("cents").cast("double") / col("region_cents"), 6)
            .as("share_of_region"),
          round(col("region_cents").cast("double") / col("total_cents"), 6)
            .as("region_share_of_total"))
    }),
    // Debounce / burst-collapse — the event-stream cleanup that precedes
    // any per-event metric (double-clicks, retry storms): collapse each
    // user's bursts (inter-event gap ≤ 1 h — the corpus's events are
    // hours apart, so a seconds-scale window would collapse nothing and
    // test nothing; ~8.5% of events fold at 1 h) to their FIRST event
    // via gaps-and-islands — one lag window per user (user-partitioned,
    // never corpus-wide), island start = gap > threshold. Output is the
    // kept events; all compares on exact micros.
    "q265_debounce" -> ((s, d) => {
      val gapUs = 3600000000L
      val e = ev_(s, d).select(col("user_id"), col("event_id"), col("tsu"))
      e.withColumn("__prev", lag(col("tsu"), 1).over(
          Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))))
        .filter(col("__prev").isNull || col("tsu") - col("__prev") > gapUs)
        .select("user_id", "event_id", "tsu")
    }),
    // Inter-arrival latency percentiles — the SLO table every ops feed
    // publishes: per event type, exact p50/p95/p99 of the gap between
    // consecutive events (type-partitioned lag over exact micros, then
    // the A2 exact-percentile agg; linear interpolation of identical
    // longs is engine-identical arithmetic).
    "q266_gap_percentiles" -> ((s, d) => {
      val e = ev_(s, d).select(col("event_type"), col("event_id"), col("tsu"))
      val gaps = e.withColumn("__prev", lag(col("tsu"), 1).over(
          Window.partitionBy("event_type")
            .orderBy(col("tsu"), col("event_id"))))
        .filter(col("__prev").isNotNull)
        .select(col("event_type"), (col("tsu") - col("__prev")).as("gap_us"))
      gaps.groupBy("event_type").agg(
        count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)"), 4).as("p50_us"),
        round(expr("percentile(gap_us, 0.95)"), 4).as("p95_us"),
        round(expr("percentile(gap_us, 0.99)"), 4).as("p99_us"))
    }),
    // Two-proportion experiment readout — the A/B conversion test: users
    // deterministically split by user_id parity, conversion = a
    // high-value cut (≥ 15 purchases — "≥1" is degenerate on this
    // corpus: every user purchases, and p = 1 zeroes the pooled
    // variance); uplift and the pooled two-proportion z statistic as ONE
    // mirrored float expression over exact integer counts (the q191
    // shape), NULL-guarded for the degenerate p ∈ {0, 1} pools where
    // the denominator is legitimately zero. One corpus agg + a 2-row
    // pivot — nothing corpus-wide after the per-user collapse.
    "q267_ab_proportions" -> ((s, d) => {
      val users = ev_(s, d).groupBy("user_id").agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__np"))
        .select(col("user_id"), when(col("__np") >= 15, 1L).otherwise(0L)
          .as("conv"))
      val arms = users.groupBy((col("user_id") % 2).as("arm")).agg(
        count(lit(1)).as("n"), sum(col("conv")).as("x"))
      val w = arms.agg(
        sum(when(col("arm") === 0, col("n"))).as("n0"),
        sum(when(col("arm") === 0, col("x"))).as("x0"),
        sum(when(col("arm") === 1, col("n"))).as("n1"),
        sum(when(col("arm") === 1, col("x"))).as("x1"))
      val xt = col("x0") + col("x1")
      val nt = col("n0") + col("n1")
      w.select(col("n0"), col("x0"), col("n1"), col("x1"),
        round(col("x1").cast("double") / col("n1") -
          col("x0").cast("double") / col("n0"), 6).as("uplift"),
        round(when(xt > 0 && xt < nt,
          (col("x1").cast("double") / col("n1") -
            col("x0").cast("double") / col("n0")) /
            sqrt((xt.cast("double") / nt) *
              (lit(1.0) - xt.cast("double") / nt) *
              (lit(1.0) / col("n0") + lit(1.0) / col("n1")))), 4).as("z"))
    }),
    // Single changepoint detection — binary segmentation's first split
    // over each type's daily count series: the split maximizing the
    // between-segment SSE reduction, which for a split (S1,n1 | S,n)
    // reduces to maximizing (S1·n − n1·S)² / (n1·(n−n1)) — ALL INTEGER
    // except one final mirrored division (bounds: S ≤ corpus events,
    // S1·n ≤ 1e5·1e3 at sf0.1; the long headroom is 9.2e18 — document
    // before 100× scale-up, or lift to decimal). The day table is
    // bounded (|types|×|days|), so its windows are bounded too; CUSUM
    // (q172) flags drift, this PINPOINTS the break.
    "q268_changepoint" -> ((s, d) => {
      val daily = ev_(s, d)
        .groupBy(col("event_type"), expr("tsu DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val pre = daily
        .withColumn("__i", row_number().over(w))
        .withColumn("__s1", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("__s", sum(col("c")).over(Window.partitionBy("event_type")))
        .filter(col("__i") < col("__n"))
        .withColumn("__num",
          (col("__s1") * col("__n") - col("__i") * col("__s")) *
            (col("__s1") * col("__n") - col("__i") * col("__s")))
        .withColumn("__den", col("__i") * (col("__n") - col("__i")))
      pre.withColumn("__rk", row_number().over(
          Window.partitionBy("event_type").orderBy(
            (col("__num").cast("double") / col("__den")).desc, col("day"))))
        .filter(col("__rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          col("__i").as("n_days_before"),
          round(col("__num").cast("double") / col("__den") /
            (col("__n") * col("__n")), 4).as("sse_reduction"))
    }),
    // ViT-style patch tokenization over the synthetic byte raster — the
    // image-to-token pre-step with the plumbing real (sequence+explode+
    // HOF fold, codegen'd, shuffle-free; see Multimodal.patchGrid): one
    // row per 4×4 tile of the 16-wide raster with exact intensity sums;
    // the mean divides by 16 (a power of two) so even the double is
    // bit-exact with no rounding.
    "q269_patch_grid" -> ((s, d) =>
      // pre-shuffle by media id: the patch explode + per-patch feature
      // pass ran on the single-row-group documents scan's ONE task
      // (measured 2.7 s task CPU, r17); per-patch work is row-local
      graft.multimodal.Multimodal.patchGrid(
        graft.multimodal.Multimodal.mediaFromText(doc(s, d), "doc_id", "text")
          .repartition(nPart(s), col("media_id")),
        width = 16, patch = 4)),
    // Distinctive terms per source — Monroe et al.'s log-odds with an
    // informative Dirichlet prior (the corpus-analysis "what makes source
    // X different"): per (source, word), delta = log-odds vs the Rest
    // with prior a_w = a0·(corpus share), z = delta/sqrt(1/(y+a) +
    // 1/(y'+a')). All counts exact longs; the float chain is mirrored
    // op-for-op and the per-source top-5 ranks by the ROUNDED z (q219
    // rule: never rank on a raw libm value), tie-broken by word. Two hash
    // aggs + a broadcast of the bounded vocab table.
    "q270_distinctive_terms" -> ((s, d) => {
      val words = doc(s, d).select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val sw = words.groupBy("source", "w").agg(count(lit(1)).as("ysw"))
      val tot = words.groupBy("w").agg(count(lit(1)).as("yw"))
      val ns = words.groupBy("source").agg(count(lit(1)).as("nsrc"))
      val n = words.agg(count(lit(1)).as("ntot"))
      val a0 = 1000.0
      val scored = sw.join(broadcast(tot), "w").join(broadcast(ns), "source")
        .crossJoin(broadcast(n))
        .withColumn("aw", lit(a0) * col("yw") / col("ntot"))
        .withColumn("yrw", col("yw") - col("ysw"))
        .withColumn("nrest", col("ntot") - col("nsrc"))
        .withColumn("delta",
          log((col("ysw") + col("aw")) /
            (col("nsrc") + lit(a0) - col("ysw") - col("aw"))) -
          log((col("yrw") + col("aw")) /
            (col("nrest") + lit(a0) - col("yrw") - col("aw"))))
        .withColumn("z", round(col("delta") /
          sqrt(lit(1.0) / (col("ysw") + col("aw")) +
            lit(1.0) / (col("yrw") + col("aw"))), 4))
      scored.withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("z").desc, col("w"))))
        .filter(col("rk") <= 5)
        .select(col("source"), col("w"), col("ysw"), col("z"),
          col("rk").cast("long").as("rk"))
    }),
    // KV-cache prefix-sharing estimate — the inference-cost audit for a
    // serving fleet: documents sharing their first k tokens re-use one
    // cached prefix, so tokens_saved = Σ_groups (count−1)·k. Swept at
    // k = 4/8/16 in one scan (explode the k literals, group by (k,
    // prefix)); only docs with ≥ k tokens join group k. Exact integers
    // into one mirrored division per k.
    "q271_prefix_cache" -> ((s, d) => {
      val docs = doc(s, d).select(split(col("text"), " ").as("t"))
      val total = docs.agg(sum(size(col("t")).cast("long")).as("ntok"))
      val pref = docs.select(size(col("t")).cast("long").as("len"),
          explode(array(lit(4), lit(8), lit(16))).as("k"), col("t"))
        .filter(col("len") >= col("k"))
        .select(col("k").cast("long").as("k"),
          expr("array_join(slice(t, 1, k), ' ')").as("prefix"))
      pref.groupBy("k", "prefix").agg(count(lit(1)).as("__c"))
        .groupBy("k").agg(
          count(lit(1)).as("n_prefixes"),
          sum(col("__c")).as("n_docs"),
          sum((col("__c") - 1) * col("k")).as("tokens_saved"))
        .crossJoin(broadcast(total))
        .select(col("k"), col("n_prefixes"), col("n_docs"),
          col("tokens_saved"),
          round(col("tokens_saved").cast("double") / col("ntok"), 6)
            .as("saved_rate"))
    }),
    // Clustering-quality readout — the simplified (centroid-based)
    // silhouette over the q105 k-means labels: per point a = distance to
    // its (nearest) centroid, b = distance to the second-nearest, s =
    // (b−a)/max(a,b). The per-point (d², cid) ranking is an array_sort of
    // literal-centroid structs (identical fold + identical lexicographic
    // order on both engines — the q105 parity devices); per-point s
    // converts ONCE to integer micro-units (round-to-int of an identical
    // double, the q93 device) so the per-cluster mean is exact long
    // arithmetic into one mirrored division. Pure map-side expressions +
    // one k-group agg; centroids are the k·dims driver table, never the
    // corpus.
    "q272_silhouette" -> ((s, d) => {
      val (cents, v) = graft.ml.KMeans.lloydCentroids(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 2)
      def dist2(c: Array[Double]): Column =
        aggregate(zip_with(col("__v"), array(c.map(lit).toIndexedSeq: _*),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, b) => a + b)
      val sorted = array_sort(array(cents.map { case (cid, cv) =>
        struct(dist2(cv).as("d2"), lit(cid).as("cid")) }: _*))
      val a = sqrt(sorted.getItem(0).getField("d2"))
      val b = sqrt(sorted.getItem(1).getField("d2"))
      val sPoint = when(greatest(a, b) > 0,
        (b - a) / greatest(a, b)).otherwise(lit(0.0))
      v.select(sorted.getItem(0).getField("cid").as("cluster"),
          round(sPoint * 1000000L).cast("long").as("__mu"))
        .groupBy("cluster").agg(
          count(lit(1)).as("n"), sum(col("__mu")).as("__sm"))
        .select(col("cluster"), col("n"),
          round(col("__sm").cast("double") / col("n") / 1000000L, 6)
            .as("mean_silhouette"))
    }),
    // Sliding (overlapping) stream windows — q29's tumbling aggregation
    // at a 2 h window / 1 h slide, so each event feeds exactly two
    // windows (the dashboard rate-smoothing shape). Batch-equivalence
    // oracle: every event assigned to BOTH covering window starts.
    "q273_stream_sliding_windows" -> ((s, d) =>
      EventsStream.slidingWindowCounts(s, d)),
    // CUPED variance-reduced experiment readout — the industry-standard
    // companion to q267: per-user pre-period spend (first 15 days) as the
    // covariate, θ = cov(pre, post)/var(pre) pooled across arms, adjusted
    // uplift = raw − θ·(pre-mean gap), variance reduction = ρ². Moments
    // ride exact cent longs; the covariance algebra uses the q225
    // decimal(38,0)/HUGEINT device (n·Σxy − Σx·Σy stays exact — each
    // factor ≤ 2e18, and ρ² multiplies two DOUBLE ratios rather than
    // squaring a decimal, which would overflow precision 38 differently
    // per engine). One corpus agg → per-user table → one 1-row agg.
    "q274_cuped" -> ((s, d) => {
      val ev0 = Tables.events(s, d).select(col("user_id"),
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val mn = ev0.agg(min(col("day")).as("mn"))
      val users = ev0.crossJoin(broadcast(mn))
        .groupBy("user_id").agg(
          sum(when(col("day") < col("mn") + 15, col("cents"))
            .otherwise(0L)).as("pre"),
          sum(when(col("day") >= col("mn") + 15, col("cents"))
            .otherwise(0L)).as("post"))
        .withColumn("arm", col("user_id") % 2)
      // second-moment SUMS ride decimal(38,0) — a LONG Σ(pre·post) wraps
      // silently around 1e19 (per-user cents ~1e7 squared × 1e5 users),
      // well before the n·Σxy products the decimal device already covers
      def dec0(c: Column) = c.cast("decimal(38,0)")
      val m = users.agg(
        count(lit(1)).as("n"),
        sum(col("pre")).as("sx"), sum(col("post")).as("sy"),
        sum(dec0(col("pre")) * dec0(col("pre"))).as("sxx"),
        sum(dec0(col("pre")) * dec0(col("post"))).as("sxy"),
        sum(dec0(col("post")) * dec0(col("post"))).as("syy"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("pre")).otherwise(0L)).as("x0"),
        sum(when(col("arm") === 0, col("post")).otherwise(0L)).as("y0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("pre")).otherwise(0L)).as("x1"),
        sum(when(col("arm") === 1, col("post")).otherwise(0L)).as("y1"))
      def dec(c: Column) = c.cast("decimal(38,0)")
      val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val den = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val deny = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      val theta = num.cast("double") / den.cast("double")
      val upliftRaw = col("y1").cast("double") / col("n1") -
        col("y0").cast("double") / col("n0")
      val preGap = col("x1").cast("double") / col("n1") -
        col("x0").cast("double") / col("n0")
      // zero pre-variance (all users identical pre spend) or zero post-
      // variance would 0/0 — NULL deterministically on both engines
      m.select(col("n0"), col("n1"),
        round(upliftRaw, 4).as("uplift_raw_cents"),
        round(when(den > 0, theta), 6).as("theta"),
        round(when(den > 0, upliftRaw - theta * preGap), 4)
          .as("uplift_cuped_cents"),
        round(when(den > 0 && deny > 0,
          (num.cast("double") / den.cast("double")) *
            (num.cast("double") / deny.cast("double"))), 6)
          .as("var_reduction"))
    }),
    // Curation mixture plan — fractional-knapsack source selection: rank
    // sources by mean quality (alpha ratio in exact micro-units — the
    // per-source mean is Σ per-doc micro-scores / docs, all longs), take
    // whole sources in quality order until the 500k-token budget, take a
    // FRACTION of the straddling source, skip the rest. The plan table is
    // |sources| rows, so its windows are bounded; everything up to the
    // one take_frac division is exact integer arithmetic.
    "q275_mixture_plan" -> ((s, d) => {
      val budget = 500000L
      val docs = doc(s, d).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        round(alphaRatio * 1000000L).cast("long").as("__q_micro"))
      val src = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"),
        sum(col("__q_micro")).as("__qsum"))
      val w = Window.orderBy(
        (col("__qsum").cast("double") / col("n_docs")).desc, col("source"))
      src
        .withColumn("quality_rank", row_number().over(w))
        .withColumn("__before", coalesce(sum(col("tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("take_tokens",
          greatest(lit(0L), least(col("tokens"), lit(budget) - col("__before"))))
        .select(col("source"), col("quality_rank").cast("long").as("quality_rank"),
          col("n_docs"), col("tokens"),
          round(col("__qsum").cast("double") / col("n_docs") / 1000000L, 6)
            .as("mean_quality"),
          col("take_tokens"),
          round(col("take_tokens").cast("double") / col("tokens"), 6)
            .as("take_frac"))
    }),
    // Dedup-funnel impact report — the one-table answer to "what does
    // each dedup stage cost me": docs/tokens entering, surviving exact
    // dedup (md5 keep-first), then surviving chunk-level dedup on top
    // (q220's keeper rule collapsed to full-doc survival = doc keeps ≥ 1
    // chunk). One row per stage with exact counts and a mirrored
    // retention ratio — the composition metric a curation pipeline
    // publishes per release.
    "q276_dedup_funnel" -> ((s, d) => {
      val docs = doc(s, d).select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val stage0 = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"))
        .select(lit(1L).as("stage"), lit("ingest").as("name"),
          col("n_docs"), col("n_tokens"))
      val keepers = docs.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"))
      val exact = docs.join(keepers, "doc_id")
      val stage1 = exact.agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"))
        .select(lit(2L).as("stage"), lit("exact_dedup").as("name"),
          col("n_docs"), col("n_tokens"))
      // chunk survival on the exact-dedup survivors: a doc survives if it
      // keeps at least one 16-token chunk under the q220 keeper rule
      // (the shared chunks16 cut — one definition for both queries)
      val chunks = chunks16(exact)
      val kept = chunks.groupBy("chunk")
        .agg(graft.functions.ArgMinBy(struct(col("doc_id"), col("idx")),
          col("doc_id"), col("idx")).as("keeper"))
      val surviving = chunks.join(kept, "chunk")
        .filter(struct(col("doc_id"), col("idx")) === col("keeper"))
        .select("doc_id").distinct()
      val stage2 = exact.join(surviving, "doc_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .select(lit(3L).as("stage"), lit("chunk_dedup").as("name"),
          col("n_docs"), col("n_tokens"))
      val total = docs.agg(sum(col("toks")).as("__t0"))
      stage0.unionByName(stage1).unionByName(stage2)
        .crossJoin(broadcast(total))
        .select(col("stage"), col("name"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("__t0"), 6)
            .as("token_retention"))
    }),
    // Dynamic-gap session windows — session_window with a PER-EVENT gap
    // expression (purchase holds 60 min, else 30): the intent-aware
    // timeout streams grew in Spark 3.2+. The oracle replays the merge
    // rule exactly: break when ts ≥ running max of previous (ts + gap)
    // per user — q238's boundary convention generalized to variable gaps.
    "q277_dynamic_session" -> ((s, d) =>
      EventsStream.dynamicSessionCounts(s, d)),
    // Equi-height histogram — the ANALYZE-grade decile table for a
    // numeric column (q261's companion; q104 buckets per ROW, this emits
    // the catalog HISTOGRAM): exact-percentile boundaries (A2 device),
    // per-bucket counts via the bounded boundary-compare sum — no range
    // join, no sort. Boundaries/interpolation are identical doubles on
    // both engines.
    "q278_equiheight_hist" -> ((s, d) => {
      // DISTRIBUTED exact percentile (r17). The percentile() aggregate
      // buffers every partition's values in its partials and merges them
      // into ONE final task (measured: 2.4 s single-task sort of 600k
      // doubles at sf0.1 — and a driver-killer buffer at corpus scale,
      // l_extendedprice is ~97% distinct so the counts map IS the data).
      // Equivalent scale-safe shape: value-count table + the two-phase
      // exclusive prefix sum (GlobalRank), then each boundary value is
      // picked by its index and interpolated with ARITHMETIC IDENTICAL to
      // Percentile.getPercentile — position = (N−1)·p, lower/higher =
      // floor/ceil, lowerKey at the row whose [cum_before, cum_before+c)
      // covers the index, result = (higher−pos)·lk + (pos−lower)·hk with
      // the two equal-key early returns — so the boundaries are the same
      // doubles bit for bit (the oracle row is unchanged).
      val probs = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
      // null filter mirrors percentile()'s null-skipping update (a no-op
      // on this table, stated so N means the same thing in both forms)
      val vc = graft.io.Checkpoints.truncate(
        li(s, d).filter(col("l_extendedprice").isNotNull)
          .groupBy(col("l_extendedprice").as("v"))
          .agg(count(lit(1)).as("c")), eager = false)
      val pc = graft.operators.GlobalRank.exclusivePrefixSum(vc, "v", "c")
      val nRow = vc.agg(sum(col("c")).as("__n"))
      def pos(j: Int) = (col("__n") - 1).cast("double") * lit(probs(j - 1))
      def lowerI(j: Int) = floor(pos(j)).cast("long")
      def higherI(j: Int) = ceil(pos(j)).cast("long")
      def keyAt(idx: Column) = max(when(
        col("cum_before") <= idx && idx < col("cum_before") + col("c"),
        col("v")))
      val aggs = min(col("v")).as("b0") +: max(col("v")).as("b10") +:
        max(col("__n")).as("__n") +:
        (1 to 9).flatMap(j => Seq(
          keyAt(lowerI(j)).as(s"__lk$j"), keyAt(higherI(j)).as(s"__hk$j")))
      val picked = pc.crossJoin(broadcast(nRow)).agg(aggs.head, aggs.tail: _*)
      val b = picked.select(col("b0") +: (1 to 9).map { j =>
        val (lk, hk) = (col(s"__lk$j"), col(s"__hk$j"))
        when(higherI(j) === lowerI(j), lk)
          .when(hk === lk, lk)
          .otherwise((higherI(j).cast("double") - pos(j)) * lk +
            (pos(j) - lowerI(j).cast("double")) * hk).as(s"b$j")
      } :+ col("b10"): _*)
      li(s, d).crossJoin(broadcast(b))
        .withColumn("bucket", (lit(1) + (1 to 9).map(j =>
          when(col("l_extendedprice") > col(s"b$j"), 1).otherwise(0))
          .reduce(_ + _)).cast("long"))
        .groupBy("bucket").agg(
          count(lit(1)).as("n_rows"),
          round(min(col("l_extendedprice")), 4).as("lo_seen"),
          round(max(col("l_extendedprice")), 4).as("hi_seen"))
    }),
    // Post-stratification — the survey/eval-methodology estimator: a 10%
    // deterministic hash sample's naive mean vs the post-stratified mean
    // Σ_h (N_h/N)·mean_h (population strata shares reweight the sample),
    // against the true population mean. Cents-exact sums; the strata
    // table is bounded (|priorities|); sampling is the q103 md5-uniform
    // device so any engine replays the exact sample.
    "q279_post_stratification" -> ((s, d) => {
      val o = ord(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val u = conv(substring(md5(concat(lit("ps_"),
        col("o_orderkey").cast("string"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val sampled = o.withColumn("__in", (u < 0.1).cast("long"))
      val strata = sampled.groupBy("o_orderpriority").agg(
        count(lit(1)).as("nh"), sum(col("__in")).as("nh_s"),
        sum(when(col("__in") === 1, col("cents")).otherwise(0L)).as("sh_s"),
        sum(col("cents")).as("sh"))
      // per-stratum contribution in integer MILLI-cents (round-to-int of
      // the identical double (nh·sh_s)/nh_s·1000 — the q93 device), so
      // the cross-strata sum is exact longs, not an order-dependent
      // float fold; an unsampled stratum contributes 0 (guarded — ANSI
      // division would throw).
      val term = when(col("nh_s") > 0,
        round((col("nh") * col("sh_s")).cast("double") / col("nh_s") *
          lit(1000.0)).cast("long")).otherwise(0L)
      strata.agg(
          sum(col("nh")).as("n_pop"), sum(col("nh_s")).as("n_sample"),
          sum(col("sh")).as("s_pop"), sum(col("sh_s")).as("s_sample"),
          sum(term).as("__pst_milli"))
        .select(col("n_pop"), col("n_sample"),
          round(col("s_sample").cast("double") / col("n_sample") / 100, 4)
            .as("naive_mean"),
          round(col("__pst_milli").cast("double") / 1000 / col("n_pop") / 100,
            4).as("post_strat_mean"),
          round(col("s_pop").cast("double") / col("n_pop") / 100, 4)
            .as("population_mean"))
    }),
    // TPC-H Q4 shape — EXISTS decorrelated to a left-semi join feeding a
    // grouped count: orders (in a date band) with at least one slow
    // lineitem (shipped >30 days after the order date), counted per
    // priority. The semi join shuffles on orderkey once; the date filter
    // reaches the orders scan.
    "q280_tpch_q4" -> ((s, d) => {
      val o = ord(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val late = li(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_shipdate"))
        .join(o.select("o_orderkey", "o_orderdate"), "o_orderkey")
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select("o_orderkey").distinct()
      o.join(late, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
    }),
    // Pareto frontier (2-D skyline) — the multi-objective shortlist every
    // catalog/benchmark comparison wants: parts not STRICTLY dominated on
    // (price low, size high). survive ⟺ size > max size among strictly
    // cheaper parts AND size = max size at its own price (an equal-size
    // cheaper part dominates; equal on both axes → both survive). The
    // "max among strictly cheaper" is GlobalRank.exclusivePrefixMax —
    // the shared two-phase device (per-bucket windows + an O(buckets)
    // offset pass), never a corpus-wide ordered window. All compares
    // exact (size int; prices identical doubles).
    "q281_pareto_frontier" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("p_size").cast("long").as("p_size"))
      val perPrice = p.groupBy("p_retailprice")
        .agg(max(col("p_size")).as("__mx"))
      val cheaperMax = graft.operators.GlobalRank.exclusivePrefixMax(
          perPrice, "p_retailprice", "__mx", nBuckets = 32)
        .select(col("p_retailprice"), col("__mx"),
          coalesce(col("max_before"), lit(Long.MinValue)).as("__cm"))
      p.join(cheaperMax, "p_retailprice")
        .filter(col("p_size") > col("__cm") && col("p_size") === col("__mx"))
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
          col("p_size"))
    }),
    // Degree assortativity — Newman's r for the co-purchase graph: the
    // Pearson correlation of endpoint degrees over (symmetrized) edges —
    // do hubs attach to hubs? Degrees are one count agg; the correlation
    // rides exact integer moments through the q225 decimal/HUGEINT
    // closed form (n·Σxy − Σx·Σy over the two √ terms) — zero float
    // aggregation anywhere.
    "q282_assortativity" -> ((s, d) => {
      val p = copurchasePairs(s, d)
      // explode-symmetrize (one pass over the support-2 self-join — the
      // unionAll form ran it twice) + truncate: edges feeds the degree agg
      // AND the correlation join, deg is probed twice — unmaterialized,
      // the self-join replayed ~4×
      val edges = graft.io.Checkpoints.truncate(
        graft.graph.EdgeLayout.symmetrize(p, "u", "v"), eager = false)
      val deg = graft.io.Checkpoints.truncate(
        edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg")), eager = false)
      val j = edges
        .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
      // degree-product sums in decimal(38,0) — hub degrees square into
      // LONG-overflow range at scale (same reasoning as q274)
      def dec(c: Column) = c.cast("decimal(38,0)")
      val m = j.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(dec(col("dx")) * dec(col("dy"))).as("sxy"),
        sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
        sum(dec(col("dy")) * dec(col("dy"))).as("syy"))
      val num = dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
      val denx = dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
      val deny = dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy"))
      m.select(col("n").as("n_edge_ends"),
        round(when(denx > 0 && deny > 0, num.cast("double") /
          sqrt(denx.cast("double") * deny.cast("double"))), 6)
          .as("assortativity"))
    }),
    // Heaps' law — vocabulary growth V(N) across corpus-size deciles:
    // each word's FIRST decile of appearance (one min-agg over the
    // postings — never a per-prefix re-scan), new-word counts per
    // decile, cumulative V over the bounded 10-row table, and the
    // log-log growth exponent from the first/last point (ln ratio — one
    // mirrored float expression). The "scan 10 prefixes" naive form
    // would be 10 corpus passes; this is one.
    "q283_heaps_law" -> ((s, d) => {
      val n = doc(s, d).agg(max(col("doc_id")).as("__mx"),
        min(col("doc_id")).as("__mn"))
      val words = doc(s, d).select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .crossJoin(broadcast(n))
        // decile 1..10 by doc_id position in the id range (ids are dense
        // in the harness; the contract is "10 ordered corpus slices",
        // any monotone id works); exact integer DIV — nonneg operands
        .withColumn("decile", least(lit(10L),
          expr("((doc_id - __mn) * 10) DIV (__mx - __mn + 1)") + 1))
      val firstSeen = words.groupBy("w").agg(min(col("decile")).as("decile"))
      val perDecile = firstSeen.groupBy("decile")
        .agg(count(lit(1)).as("new_words"))
      val toks = words.groupBy("decile").agg(count(lit(1)).as("tokens"))
      // drive from the token side (every decile has tokens) — a decile
      // that introduces no new vocabulary must still appear with
      // new_words = 0, or the growth curve silently loses points
      toks.join(perDecile, Seq("decile"), "left")
        .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
        .withColumn("vocab", sum(col("new_words")).over(
          Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_tokens", sum(col("tokens")).over(
          Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("new_words"),
          col("vocab").cast("long").as("vocab"),
          col("cum_tokens").cast("long").as("cum_tokens"))
    }),
    // Burstiness — the Fano factor (variance-to-mean ratio of hourly
    // counts) per event type: F ≈ 1 is Poisson-like traffic, F ≫ 1 is
    // bursty. Counts and squared sums exact longs (q246's moment table),
    // one mirrored float expression; |types| output rows.
    "q284_burstiness" -> ((s, d) => {
      val hourly = ev_(s, d).groupBy(col("event_type"),
          expr("tsu DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      hourly.groupBy("event_type").agg(
          count(lit(1)).as("n_hours"), sum(col("c")).as("n_events"),
          sum(col("c") * col("c")).as("__s2"))
        .select(col("event_type"), col("n_hours"), col("n_events"),
          round((col("__s2").cast("double") -
            col("n_events").cast("double") * col("n_events") / col("n_hours"))
            / col("n_hours") /
            (col("n_events").cast("double") / col("n_hours")), 6)
            .as("fano"))
    }),
    // TPC-H Q20 shape — nested IN with a correlated aggregate ("suppliers
    // who dominated shipment of some SMALL part in 1996"): the classic
    //   s_suppkey IN (SELECT ... WHERE qty > 0.5 * (correlated SUM))
    // decorrelated by hand into aggregate algebra — ONE date+type-filtered
    // scan aggregated per (part, supplier), the correlated per-part total
    // as a sum-window over that bounded aggregate (a join back to a
    // re-grouped copy would re-scan the fact: the plan showed two full
    // lineitem subtrees), then a left-semi into supplier. Shuffles:
    // lineitem once on (partkey, suppkey), the aggregate once on partkey
    // — the window partitions are per-part supplier lists, bounded.
    // Quantities are integral doubles, so the sums and the 0.5×
    // threshold compare are exact on both engines.
    "q285_tpch_q20" -> ((s, d) => {
      val pk = Tables.part(s, d).filter(col("p_type") === "SMALL")
        .select(col("p_partkey").as("l_partkey"))
      val l96 = li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(broadcast(pk), "l_partkey")
      val perPS = l96.groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity")).as("__q"))
      val dominant = perPS
        .withColumn("__tot",
          sum(col("__q")).over(Window.partitionBy("l_partkey")))
        .filter(col("__q") > col("__tot") * 0.5)
        .select(col("l_suppkey").as("s_suppkey")).distinct()
      Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
        .join(dominant, Seq("s_suppkey"), "left_semi")
    }),
    // TPC-H Q22 shape — scalar subquery + NOT EXISTS anti-join ("rich
    // customers gone quiet"): balance above the global positive-balance
    // average AND no order since 1999, counted per nation. The scalar
    // subquery is a 1-row aggregate broadcast-crossed into the customer
    // scan; NOT EXISTS decorrelates to a left-anti join against the
    // DISTINCT recent-order custkeys (the date filter reaches the orders
    // scan). The average is rounded 4 dp before the compare so the
    // threshold is the same bits on both engines (the q93 mu/sigma
    // rule); balance sums ride exact cent longs.
    "q286_tpch_q22" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(round(avg(col("c_acctbal")), 4).as("__avg"))
      val recent = ord(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg"))
        .join(recent, Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(
          count(lit(1)).as("numcust"),
          round(sum(round(col("c_acctbal") * 100).cast("long"))
            .cast("double") / 100, 2).as("totacctbal"))
    }),
    // TPC-H Q2 shape — correlated scalar-min subquery ("the cheapest
    // supplier of each part"): WHERE unit = (SELECT min(unit) ... same
    // part) decorrelated into ONE argmin aggregate — min(struct(price,
    // suppkey)) per part — instead of a min-subquery + equality join
    // back (which would scan the pair aggregate twice and return
    // duplicate rows on price ties; the struct min is deterministic by
    // the suppkey tie-break, documented divergence from the tie-keeping
    // textbook form). Unit prices are rounded to cent longs BEFORE the
    // min so the compare is integer-exact on both engines.
    "q287_tpch_q2" -> ((s, d) => {
      val pk = Tables.part(s, d)
        .filter(col("p_type") === "PROMO" && col("p_size") > 25)
        .select(col("p_partkey").as("l_partkey"))
      // qty > 0 guard: the fixtures guarantee it, but on a zero-quantity
      // line Spark ANSI overflows on round(Inf) where DuckDB nulls —
      // excluding degenerate lines is the documented contract (mirrored
      // in the oracle)
      val unit = li(s, d)
        .filter(col("l_quantity") > 0)
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") / col("l_quantity") * 100)
            .cast("long").as("__u"))
        .join(broadcast(pk), "l_partkey")
        .groupBy("l_partkey", "l_suppkey").agg(min(col("__u")).as("__mu"))
      // typed arg_min_by (struct payload, (__mu, suppkey) order): builtin
      // min(struct) would SortAggregate the per-(part, supp) relation
      unit.groupBy(col("l_partkey").as("p_partkey"))
        .agg(graft.functions.ArgMinBy(
          struct(col("__mu"), col("l_suppkey")),
          col("__mu"), col("l_suppkey")).as("__best"))
        .select(col("p_partkey"),
          col("__best.l_suppkey").as("s_suppkey"),
          round(col("__best.__mu").cast("double") / 100, 2).as("unit_price"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))), "s_suppkey")
        .select("p_partkey", "s_suppkey", "s_name", "unit_price")
    }),
    // TPC-H Q11 shape — grouped agg with HAVING against a global scalar
    // ("parts worth a material share of total revenue"): the scalar total
    // is re-aggregated from the per-part partials (one fact scan), the
    // HAVING compare is INTEGER algebra (rev·2000 > total) rather than a
    // float share — exact at any scale, no epsilon. rev·2000 needs a
    // per-part revenue past ~4.6e15 cents to overflow Long (and ANSI
    // would fail loud, not wrap). The 1-row total broadcasts; nothing
    // but the fact agg shuffles.
    "q288_tpch_q11" -> ((s, d) => {
      val perPart = li(s, d)
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("__rev"))
      val tot = perPart.agg(sum(col("__rev")).as("__tot"))
      perPart.crossJoin(broadcast(tot))
        .filter(col("__rev") * 2000 > col("__tot"))
        .select(col("l_partkey").as("p_partkey"),
          round(col("__rev").cast("double") / 100, 2).as("value"))
    }),
    // TPC-H Q13 shape — count distribution over a filtered LEFT join
    // ("how many customers placed 0, 1, 2, ... non-urgent orders"): the
    // zero bucket only exists because the join is left-outer and the
    // filter sits in the JOIN CONDITION, not a WHERE (the classic Q13
    // trap — a WHERE would silently drop order-less customers). Orders
    // shuffle once on custkey; both aggs are keyed.
    "q289_tpch_q13" -> ((s, d) => {
      val o = ord(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      Tables.customer(s, d).select("c_custkey")
        .join(o, Seq("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
    }),
    // TPC-H Q15 shape — "the view with the scalar max" (top supplier(s)
    // by windowed revenue, ties kept): the revenue view aggregates once,
    // the max is a 1-row re-aggregate broadcast back, and the filter is
    // an exact cent-long equality — the decorrelated form of
    //   WHERE total_revenue = (SELECT max(total_revenue) FROM view).
    "q290_tpch_q15" -> ((s, d) => {
      val rev = li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("__rc"))
      val mx = rev.agg(max(col("__rc")).as("__mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("__rc") === col("__mx"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))), "s_suppkey")
        .select(col("s_suppkey"), col("s_name"),
          round(col("__rc").cast("double") / 100, 2).as("total_revenue"))
    }),
    // TPC-H Q16 shape — NOT IN + COUNT DISTINCT ("supplier diversity per
    // brand/size, excluding blacklisted suppliers"): the NOT IN
    // decorrelates to a left-anti join against the bounded blacklist
    // (negative-balance suppliers), supplier-part pairs come from the
    // fact (distinct'd in the same agg), and the distinct count is a
    // keyed two-level agg — no OrderBy, no global exchange.
    "q291_tpch_q16" -> ((s, d) => {
      val sizes = Seq(1, 4, 9, 16, 25, 36, 49)
      val p = Tables.part(s, d)
        .filter(col("p_type") =!= "PROMO" && col("p_size").isin(sizes: _*))
        .select(col("p_partkey").as("l_partkey"), col("p_brand"),
          col("p_size"))
      val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("l_suppkey"))
      val pairs = li(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(p), "l_partkey")
        .join(broadcast(bad), Seq("l_suppkey"), "left_anti")
      pairs.groupBy("p_brand", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),
    // TPC-H Q18 shape — IN over a grouped HAVING ("large-volume
    // orders"): the IN-subquery is the same grouped aggregate the outer
    // query needs, so it collapses to one lineitem agg + HAVING filter
    // joined back to orders/customer — the fact shuffles once on
    // orderkey and the qualifying-order table (HAVING-bounded) drives
    // the joins. Quantities are integral doubles: sums exact.
    "q292_tpch_q18" -> ((s, d) => {
      val big = li(s, d).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(ord(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          unix_timestamp(col("o_orderdate")).as("o_orderdate_s")),
          "l_orderkey")
        .join(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_name")),
          Seq("o_custkey"))
        .select(col("c_name"), col("o_custkey").as("c_custkey"),
          col("l_orderkey").as("o_orderkey"), col("o_orderdate_s"),
          col("o_totalprice"), col("total_qty"))
    }),
    // Clustering-depth audit — the layout advisor's objective function
    // (Delta/Iceberg "liquid clustering" literature): for each candidate
    // file layout, how many files' [min, max] shipdate ranges overlap
    // each file (1.0 = perfectly clustered, n_files = useless stats).
    // q214 measures ONE probe; this scores the whole layout.
    //
    // Shape: ONE tagged-explode fact pass builds all three layouts'
    // extent tables (a per-layout subtree re-scans the fact each time),
    // then overlap counts come from a SWEEP-LINE over the extent
    // endpoints — overlap_i = #{fmin_j ≤ fmax_i} − #{fmax_j < fmin_i},
    // two running counters in one window — instead of the naive
    // interval self-join, which is manifest² (a 1e5-file manifest would
    // mean 1e10 comparisons; the sweep is linear and references the
    // extent subtree ONCE, so nothing recomputes). The per-layout
    // window runs over manifest-cardinality metadata (4 rows per file);
    // past ~1e6 files per layout, lift it through the GlobalRank
    // bucketed prefix-sum device. Extents are exact micros; the one
    // division is mirrored.
    "q293_clustering_depth" -> ((s, d) => {
      val base = li(s, d).select(col("l_orderkey"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("sd"))
      val ext = base.agg(min(col("sd")).as("mn"), max(col("sd")).as("mx"))
      // ONE tagged-explode fact pass for all three layouts (a per-layout
      // subtree would re-scan the fact once per layout — 4 full reads at
      // 100 TB); map-side partial agg collapses the 3x exploded rows to
      // manifest cardinality per partition before the one shuffle
      val f = base.crossJoin(broadcast(ext))
        .select(col("sd"), explode(array(
          struct(lit("natural").as("lay"),
            expr("l_orderkey DIV 1000").as("fid")),
          struct(lit("clustered").as("lay"),
            expr("(sd - mn) DIV (((mx - mn) DIV 15) + 1)").as("fid")),
          struct(lit("roundrobin").as("lay"),
            expr("l_orderkey % 16").as("fid")))).as("lf"))
        .groupBy(col("lf.lay").as("lay"), col("lf.fid").as("fid"))
        .agg(min(col("sd")).as("fmin"), max(col("sd")).as("fmax"))
      // sweep events per extent: start(t0) and probeA(t2) at/for fmax's
      // ≤-count, probeB(t1) and end(t3) for the strict < count — the t
      // order makes "start at pos == probe pos" count (≤) and "end at
      // pos == probe pos" not count (<); rows tied on (pos, t) are
      // mutually order-free because a row type never reads its own
      // counter
      val evs = f.select(col("lay"), col("fid"), explode(array(
          struct(col("fmin").as("pos"), lit(0).as("t")),
          struct(col("fmin").as("pos"), lit(1).as("t")),
          struct(col("fmax").as("pos"), lit(2).as("t")),
          struct(col("fmax").as("pos"), lit(3).as("t")))).as("e"))
        .select(col("lay"), col("fid"),
          col("e.pos").as("pos"), col("e.t").as("t"))
      val w = Window.partitionBy("lay").orderBy("pos", "t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      evs
        .withColumn("cs", sum(when(col("t") === 0, 1L).otherwise(0L)).over(w))
        .withColumn("ce", sum(when(col("t") === 3, 1L).otherwise(0L)).over(w))
        .groupBy("lay", "fid").agg(
          (max(when(col("t") === 2, col("cs"))) -
            max(when(col("t") === 1, col("ce")))).as("__ov"))
        .groupBy(col("lay").as("layout")).agg(count(lit(1)).as("n_files"),
          round(sum(col("__ov")).cast("double") / count(lit(1)), 6)
            .as("avg_overlap"),
          max(col("__ov")).as("max_overlap"))
    }),
    // Join-cardinality estimation audit — the optimizer-statistics
    // primitive behind every join reorder: |A ⋈ B| on a key predicted
    // from (a) the System-R global uniform formula n²/ndv and (b) a
    // 16-bucket histogram refinement Σ n_b²/ndv_b, scored against the
    // exact Σ c_k² (the self-join size that dedup/co-purchase planning
    // needs). Everything rides ONE per-key count agg (key-cardinality,
    // the only fact shuffle); estimates are integer DIV algebra — no
    // float until the final mirrored error ratio. Arithmetic bound: the
    // n·n products are exact to ~3·10⁹ rows per arm (ANSI fails loud,
    // never wraps); past that, lift the products through the q225
    // decimal(38,0) device — deliberately NOT done here because Spark's
    // decimal division rounds HALF_UP at scale 6 where DuckDB truncates,
    // a 5e-7-wide parity seam the long DIV form cannot have.
    "q294_join_card_estimate" -> ((s, d) => {
      val ck = li(s, d).groupBy("l_partkey").agg(count(lit(1)).as("c"))
      val exact = ck.agg(sum(col("c") * col("c")).as("exact"))
      val global = ck.agg(sum(col("c")).as("__n"), count(lit(1)).as("__v"))
        .select(lit("global").as("method"),
          expr("__n * __n DIV __v").as("est"))
      val hist = ck.groupBy(expr("l_partkey % 16").as("__b"))
        .agg(sum(col("c")).as("__nb"), count(lit(1)).as("__vb"))
        .agg(sum(expr("__nb * __nb DIV __vb")).as("est"))
        .select(lit("hist16").as("method"), col("est"))
      global.unionByName(hist).crossJoin(broadcast(exact))
        .select(col("method"), col("est"), col("exact"),
          round((col("est") - col("exact")).cast("double") / col("exact"), 6)
            .as("rel_err"))
    }),
    // Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    // '01) — the LM complement to q122's BM25: score(d) = Σ_t log((tf +
    // μ·cf_t/|C|)/(|d| + μ)), μ = 2000. Per-doc tf via HOF filter over
    // the token array (zero shuffle before the 1-row collection-stats
    // agg, which broadcasts back); absent terms still get the smoothed
    // collection mass — the reason QLD needs no per-term join. The
    // 3-term log sum is written in FIXED order on both engines (never a
    // float agg), ranking is by the rounded score (q219 rule), and the
    // top-10 is TakeOrdered — no corpus-wide window. Contract: probe
    // terms occur in the corpus (cf > 0), else log(0).
    "q295_qld_retrieval" -> ((s, d) => {
      val mu = 2000.0
      def tf(t: String) = size(filter(col("__t"), x => x === lit(t)))
      val base = doc(s, d).select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"), size(col("__t")).as("dl"),
          tf("vector").as("tf1"), tf("join").as("tf2"), tf("scan").as("tf3"))
      val cstats = base.agg(sum(col("dl")).as("ct"), sum(col("tf1")).as("cf1"),
        sum(col("tf2")).as("cf2"), sum(col("tf3")).as("cf3"))
      def term(tfc: String, cfc: String) =
        log((col(tfc) + lit(mu) * col(cfc) / col("ct")) / (col("dl") + lit(mu)))
      base.crossJoin(broadcast(cstats))
        .select(col("doc_id"),
          round(term("tf1", "cf1") + term("tf2", "cf2") + term("tf3", "cf3"), 6)
            .as("qld"))
        .orderBy(col("qld").desc, col("doc_id").asc).limit(10)
    }),
    // Brier-score decomposition (Murphy '73) — the forecast-eval
    // primitive behind every calibration dashboard: BS, reliability,
    // resolution, uncertainty over 10 probability bins. The forecast is
    // a deterministic pseudo-probability (orderkey·7919 mod 100, cents)
    // so every ingredient is an EXACT integer: the Brier numerator is
    // Σ(p_cents − 100y)² as longs, and the per-bin REL/RES terms are
    // doubles built from exact ints and folded in EXPLICIT bin order
    // via aggregate() over the sorted 10-element array — never a
    // float-sum agg (the q215 fixed-order device, generalized). One
    // fact agg to 10 rows; everything after is bounded.
    "q296_brier_decomposition" -> ((s, d) => {
      val p = ord(s, d).select(
        expr("o_orderkey * 7919 % 100").as("pc"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val bins = p.groupBy(expr("pc DIV 10").as("bin")).agg(
        count(lit(1)).as("n"), sum(col("pc")).as("sp"), sum(col("y")).as("sy"),
        sum((col("pc") - lit(100L) * col("y")) *
            (col("pc") - lit(100L) * col("y"))).as("sq"))
      bins.agg(
          sum(col("n")).as("N"), sum(col("sy")).as("SY"), sum(col("sq")).as("SQ"),
          collect_list(struct(col("bin"), col("n"), col("sp"), col("sy")))
            .as("__b"))
        .select(col("N"), col("SY"), col("SQ"),
          expr("""aggregate(array_sort(__b), 0.0D, (acc, x) ->
                 |  acc + (CAST(x.sp AS DOUBLE) / 100 - x.sy) *
                 |        (CAST(x.sp AS DOUBLE) / 100 - x.sy) / x.n)"""
            .stripMargin).as("__rel"),
          expr("""aggregate(array_sort(__b), 0.0D, (acc, x) ->
                 |  acc + (CAST(x.sy AS DOUBLE) / x.n - CAST(SY AS DOUBLE) / N) *
                 |        (CAST(x.sy AS DOUBLE) / x.n - CAST(SY AS DOUBLE) / N) *
                 |        x.n)""".stripMargin).as("__res"))
        .select(
          round(col("SQ").cast("double") / col("N") / 10000, 6).as("brier"),
          round(col("__rel") / col("N"), 6).as("reliability"),
          round(col("__res") / col("N"), 6).as("resolution"),
          round((col("SY").cast("double") / col("N")) *
            (lit(1.0) - col("SY").cast("double") / col("N")), 6)
            .as("uncertainty"))
    }),
    // l-diversity audit — k-anonymity's (q263) necessary complement:
    // a group can be k-large yet leak its sensitive attribute if every
    // member shares one value. Per quasi-identifier group (priority ×
    // order year), count rows and DISTINCT sensitive values; groups
    // with l < 2 are homogeneous leaks. Bounded output (|QI| groups),
    // one keyed two-level agg, exact longs.
    "q297_l_diversity" -> ((s, d) =>
      ord(s, d).groupBy(col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderstatus")).as("l_distinct"))
        .withColumn("diverse", col("l_distinct") >= 2)),
    // Top session paths — the product-analytics "what do sessions look
    // like" feed: per (user, 30-min session), the first three event
    // types in time order joined as a path string, then the global
    // top-10 path counts. Sessionization is q31's strict-> gap rule;
    // both windows ride ONE user_id exchange (same partitioning), the
    // rank filter caps rows BEFORE the per-session array agg (bounded
    // state by construction), and the top-10 is TakeOrdered on
    // (count desc, path asc) — no corpus-wide window anywhere.
    "q298_top_paths" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = ev(s, d).select(col("user_id"), col("event_id"),
          col("ts"), col("event_type"))
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .withColumn("__new", when(col("__prev").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("__prev")) > 1800L,
          1L).otherwise(0L))
        .withColumn("__sess", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id", "__sess").orderBy("ts", "event_id")))
        .filter(col("__rn") <= 3)
      sess.groupBy("user_id", "__sess")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("__rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path").asc).limit(10)
    }),
    // RFM segmentation — the classic BI customer grid (recency /
    // frequency / monetary quintiles): per-customer stats in ONE keyed
    // agg (cents-exact monetary), quintile boundaries from ONE
    // array-probability percentile pass per metric (the q278 device —
    // never five sorts), scores as exact boundary-compare sums, recency
    // inverted so 5 = most recent. Boundary doubles are
    // interpolation-identical on both engines (q278 precedent); every
    // compare after that is long vs double with the same bits. Output
    // is the bounded segment grid (≤125 rows).
    "q299_rfm_segments" -> ((s, d) => {
      val o = ord(s, d).select(col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val ref = o.agg(max(col("o_orderdate")).as("__ref"))
      val per = o.groupBy("o_custkey").agg(
          max(col("o_orderdate")).as("__last"),
          count(lit(1)).as("freq"), sum(col("cents")).as("mon"))
        .crossJoin(broadcast(ref))
        .withColumn("rec", datediff(col("__ref"), col("__last")).cast("long"))
      val bounds = per.agg(
        expr("percentile(rec, array(0.2, 0.4, 0.6, 0.8))").as("br"),
        expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("bf"),
        expr("percentile(mon, array(0.2, 0.4, 0.6, 0.8))").as("bm"))
      def score(m: String, b: String) = (lit(1) + (0 to 3).map(i =>
        when(col(m) > col(b).getItem(i), 1).otherwise(0)).reduce(_ + _))
        .cast("long")
      per.crossJoin(broadcast(bounds))
        .withColumn("r", lit(6L) - score("rec", "br"))
        .withColumn("f", score("freq", "bf"))
        .withColumn("m", score("mon", "bm"))
        .groupBy(format_string("%d-%d-%d", col("r"), col("f"), col("m"))
          .as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("mon")).cast("double") / 100, 2).as("monetary"))
    }),
    // N-gram novelty by corpus slice — the "is the tail of the corpus
    // still teaching anything" curve (q283's Heaps law at bigram-
    // OCCURRENCE level): per decile, the fraction of bigram occurrences
    // whose bigram first appeared in THAT decile. Bigrams are cut
    // per-row with zip_with (no self-join), first-seen is one min-agg,
    // and everything is exact longs into one mirrored ratio.
    "q300_ngram_novelty" -> ((s, d) => {
      val n = doc(s, d).agg(max(col("doc_id")).as("__mx"),
        min(col("doc_id")).as("__mn"))
      val bi = doc(s, d).select(col("doc_id"), split(col("text"), " ").as("t"))
        .crossJoin(broadcast(n))
        .withColumn("decile", least(lit(10L),
          expr("((doc_id - __mn) * 10) DIV (__mx - __mn + 1)") + 1))
        .select(col("decile"), explode(expr(
          """zip_with(slice(t, 1, greatest(size(t) - 1, 0)),
            |         slice(t, 2, greatest(size(t) - 1, 0)),
            |  (a, b) -> concat(a, ' ', b))""".stripMargin)).as("g"))
      val occ = bi.groupBy("decile", "g").agg(count(lit(1)).as("__c"))
      val first = occ.groupBy("g").agg(min(col("decile")).as("__fd"))
      occ.join(first, "g")
        .groupBy("decile").agg(
          sum(col("__c")).as("total_occ"),
          sum(when(col("decile") === col("__fd"), col("__c")).otherwise(0L))
            .as("novel_occ"))
        .withColumn("novelty_rate",
          round(col("novel_occ").cast("double") / col("total_occ"), 6))
    })
  )

  val oracle: Map[String, String] = Map(
    // the oracle recomputes the rollup DIRECTLY — passing proves
    // merge(partials) ≡ full recompute.
    "q262_partial_agg_merge" ->
      """WITH o AS (
        | SELECT c_nationkey,
        |  year(o_orderdate) < 1997 AS old,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders JOIN customer ON c_custkey = o_custkey)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(cents) AS BIGINT) AS sum_cents,
        | CAST(min(cents) AS BIGINT) AS min_cents,
        | CAST(max(cents) AS BIGINT) AS max_cents,
        | CAST(count(DISTINCT old) AS BIGINT) AS n_batches
        |FROM o GROUP BY c_nationkey""".stripMargin,
    // band offset to nonnegative: DIV truncates, // floors — they only
    // agree on nonnegative operands.
    "q263_k_anonymity" ->
      """WITH qi AS (
        | SELECT c_nationkey, c_mktsegment,
        |  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000) // 100000
        |    - 1000 AS band,
        |  CAST(count(*) AS BIGINT) AS sz
        | FROM customer GROUP BY 1, 2, 3),
        |x AS (
        | SELECT sz, k.k FROM qi
        | CROSS JOIN (SELECT unnest([2::BIGINT, 5::BIGINT, 10::BIGINT])
        |   AS k) k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
        |   AS groups_below_k,
        | CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
        |   AS rows_at_risk,
        | round(CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
        |   / sum(sz), 4) AS risk_rate
        |FROM x GROUP BY k""".stripMargin,
    "q264_revenue_share" ->
      """WITH rev AS (
        | SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS cents
        | FROM lineitem
        | JOIN orders ON o_orderkey = l_orderkey
        | JOIN customer ON c_custkey = o_custkey
        | JOIN nation ON n_nationkey = c_nationkey
        | JOIN region ON r_regionkey = n_regionkey
        | GROUP BY 1, 2),
        |w AS (
        | SELECT r_name, n_name, cents,
        |  CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
        |    AS region_cents,
        |  CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        | FROM rev)
        |SELECT r_name, n_name, cents,
        | round(CAST(cents AS DOUBLE) / region_cents, 6) AS share_of_region,
        | round(CAST(region_cents AS DOUBLE) / total_cents, 6)
        |   AS region_share_of_total
        |FROM w""".stripMargin,
    "q265_debounce" ->
      """WITH e AS (
        | SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS tsu
        | FROM events),
        |l AS (
        | SELECT user_id, event_id, tsu,
        |  lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |    AS prev
        | FROM e)
        |SELECT user_id, event_id, tsu FROM l
        |WHERE prev IS NULL OR tsu - prev > 3600000000""".stripMargin,
    "q266_gap_percentiles" ->
      """WITH e AS (
        | SELECT event_type, event_id, CAST(epoch_us(ts) AS BIGINT) AS tsu
        | FROM events),
        |g AS (
        | SELECT event_type,
        |  tsu - lag(tsu) OVER (PARTITION BY event_type
        |    ORDER BY tsu, event_id) AS gap_us
        | FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        | round(quantile_cont(gap_us, 0.5), 4) AS p50_us,
        | round(quantile_cont(gap_us, 0.95), 4) AS p95_us,
        | round(quantile_cont(gap_us, 0.99), 4) AS p99_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type""".stripMargin,
    // the z statistic is ONE mirrored float expression over exact
    // counts, NULL for the degenerate p ∈ {0, 1} pools.
    "q267_ab_proportions" ->
      """WITH u AS (
        | SELECT user_id,
        |  CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |    ELSE 0 END) >= 15 THEN 1 ELSE 0 END AS conv
        | FROM events GROUP BY user_id),
        |a AS (
        | SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(conv) AS BIGINT) AS x
        | FROM u GROUP BY 1),
        |w AS (
        | SELECT CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x0,
        |  CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x1
        | FROM a)
        |SELECT n0, x0, n1, x1,
        | round(CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0, 6)
        |   AS uplift,
        | round(CASE WHEN x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN
        |  (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
        |  / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |     * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |     * (1.0 / n0 + 1.0 / n1)) END, 4) AS z
        |FROM w""".stripMargin,
    // integer SSE-reduction algebra; the one division is mirrored and
    // the argmax ordering compares identical doubles.
    "q268_changepoint" ->
      """WITH daily AS (
        | SELECT event_type,
        |  CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |pre AS (
        | SELECT event_type, day,
        |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |  CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s1,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |  CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s
        | FROM daily),
        |sc AS (
        | SELECT event_type, day, i, n,
        |  (s1 * n - i * s) * (s1 * n - i * s) AS num,
        |  i * (n - i) AS den
        | FROM pre WHERE i < n),
        |rk AS (
        | SELECT event_type, day, i, n, num, den,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY CAST(num AS DOUBLE) / den DESC, day) AS rk
        | FROM sc)
        |SELECT event_type, day AS split_day,
        | CAST(i AS BIGINT) AS n_days_before,
        | round(CAST(num AS DOUBLE) / den / (n * n), 4) AS sse_reduction
        |FROM rk WHERE rk = 1""".stripMargin,
    // raster arithmetic replayed with ord(substr(...)); mean is an exact
    // power-of-two division — no rounding needed for parity.
    "q269_patch_grid" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS txt FROM documents),
        |g AS (
        | SELECT media_id, txt, (length(txt) // 16) // 4 AS ph FROM m),
        |p AS (
        | SELECT media_id, txt, i.i AS p
        | FROM g CROSS JOIN LATERAL
        |  (SELECT unnest(range(0, ph * 4)) AS i) i
        | WHERE ph > 0),
        |s AS (
        | SELECT media_id, p // 4 AS patch_row, p % 4 AS patch_col,
        |  CAST(list_sum(list_transform(range(0, 16), k ->
        |    ord(substr(txt,
        |      CAST(((p // 4) * 4 + k // 4) * 16 + (p % 4) * 4 + k % 4 + 1
        |        AS INT), 1)))) AS BIGINT) AS sum_intensity
        | FROM p)
        |SELECT media_id, CAST(patch_row AS BIGINT) AS patch_row,
        | CAST(patch_col AS BIGINT) AS patch_col, sum_intensity,
        | CAST(sum_intensity AS DOUBLE) / 16 AS mean_intensity
        |FROM s""".stripMargin,
    // counts exact, float chain mirrored op-for-op, rank on the ROUNDED z.
    "q270_distinctive_terms" ->
      """WITH w AS (
        | SELECT source, w FROM (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents) WHERE length(w) > 0),
        |sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS ysw
        |       FROM w GROUP BY 1, 2),
        |tot AS (SELECT w, CAST(count(*) AS BIGINT) AS yw FROM w GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS nsrc
        |       FROM w GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS ntot FROM w),
        |sc AS (
        | SELECT source, w, ysw, nsrc, ntot,
        |  1000.0 * yw / ntot AS aw,
        |  yw - ysw AS yrw, ntot - nsrc AS nrest
        | FROM sw JOIN tot USING (w) JOIN ns USING (source), n),
        |z AS (
        | SELECT source, w, ysw,
        |  round((ln((ysw + aw) / (nsrc + 1000.0 - ysw - aw))
        |       - ln((yrw + aw) / (nrest + 1000.0 - yrw - aw)))
        |   / sqrt(1.0 / (ysw + aw) + 1.0 / (yrw + aw)), 4) AS z
        | FROM sc)
        |SELECT source, w, ysw, z, CAST(rk AS BIGINT) AS rk FROM (
        | SELECT *, row_number() OVER (PARTITION BY source
        |   ORDER BY z DESC, w) AS rk FROM z)
        |WHERE rk <= 5""".stripMargin,
    "q271_prefix_cache" ->
      """WITH docs AS (SELECT string_split(text, ' ') AS t FROM documents),
        |tot AS (SELECT CAST(sum(len(t)) AS BIGINT) AS ntok FROM docs),
        |pref AS (
        | SELECT CAST(k.k AS BIGINT) AS k,
        |  array_to_string(t[1:k.k], ' ') AS prefix
        | FROM docs CROSS JOIN (SELECT unnest([4, 8, 16]) AS k) k
        | WHERE len(t) >= k.k),
        |g AS (
        | SELECT k, prefix, CAST(count(*) AS BIGINT) AS c
        | FROM pref GROUP BY 1, 2)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_prefixes,
        | CAST(sum(c) AS BIGINT) AS n_docs,
        | CAST(sum((c - 1) * k) AS BIGINT) AS tokens_saved,
        | round(CAST(sum((c - 1) * k) AS DOUBLE) / ntok, 6) AS saved_rate
        |FROM g, tot GROUP BY k, ntok""".stripMargin,
    // q105's Lloyd replay (c0 → a1 → c1), then per-point nearest/second
    // distances by the same fold + (d², cid) order; per-point s in
    // micro-units, per-cluster mean as one mirrored division.
    "q272_silhouette" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |c0 AS (
        | SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        |a1 AS (
        | SELECT vec_id, v, cell FROM (
        |  SELECT e.vec_id, e.v, c.cid AS cell,
        |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |     list_reduce(list_transform(list_zip(e.v, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) ASC,
        |     c.cid ASC) AS rn
        |  FROM e CROSS JOIN c0 c) t WHERE rn = 1),
        |c1 AS (
        | SELECT cell AS cid, list(m ORDER BY i) AS cv FROM (
        |  SELECT cell, d.i AS i, round(avg(v[d.i]), 6) AS m
        |  FROM a1, (SELECT unnest(range(1, 65)) AS i) d
        |  GROUP BY cell, d.i) s
        | GROUP BY cell),
        |dd AS (
        | SELECT e.vec_id, c.cid,
        |  list_reduce(list_transform(list_zip(e.v, c.cv),
        |    z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) AS d2
        | FROM e CROSS JOIN c1 c),
        |rk AS (
        | SELECT vec_id, cid, d2,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        | FROM dd),
        |ab AS (
        | SELECT vec_id,
        |  max(CASE WHEN rn = 1 THEN cid END) AS cluster,
        |  max(CASE WHEN rn = 1 THEN d2 END) AS a2,
        |  max(CASE WHEN rn = 2 THEN d2 END) AS b2
        | FROM rk WHERE rn <= 2 GROUP BY vec_id),
        |mu AS (
        | SELECT cluster,
        |  CAST(round(CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0 THEN
        |    (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
        |    ELSE 0.0 END * 1000000) AS BIGINT) AS m
        | FROM ab)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        | CAST(count(*) AS BIGINT) AS n,
        | round(CAST(sum(m) AS DOUBLE) / count(*) / 1000000, 6)
        |   AS mean_silhouette
        |FROM mu GROUP BY cluster""".stripMargin,
    // each event lands in both covering 2 h windows: starts at
    // trunc(ts)−1h and trunc(ts) (hour-aligned slide).
    "q273_stream_sliding_windows" ->
      """WITH e AS (
        | SELECT event_type, value,
        |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h
        | FROM events),
        |x AS (
        | SELECT event_type, value, h - o.o AS win_start
        | FROM e CROSS JOIN (SELECT unnest([0, 3600]) AS o) o)
        |SELECT win_start, event_type, count(*) AS cnt,
        | round(sum(value), 4) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin,
    // exact cent moments, HUGEINT covariance algebra (the q225 mirror of
    // Spark's decimal(38,0)), ρ² as a product of two DOUBLE ratios.
    "q274_cuped" ->
      """WITH e AS (
        | SELECT user_id,
        |  CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |mn AS (SELECT min(day) AS mn FROM e),
        |u AS (
        | SELECT user_id,
        |  CAST(sum(CASE WHEN day < mn + 15 THEN cents ELSE 0 END)
        |    AS BIGINT) AS pre,
        |  CAST(sum(CASE WHEN day >= mn + 15 THEN cents ELSE 0 END)
        |    AS BIGINT) AS post,
        |  user_id % 2 AS arm
        | FROM e, mn GROUP BY user_id),
        |m AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(pre) AS HUGEINT) AS sx, CAST(sum(post) AS HUGEINT) AS sy,
        |  CAST(sum(CAST(pre AS HUGEINT) * pre) AS HUGEINT) AS sxx,
        |  CAST(sum(CAST(pre AS HUGEINT) * post) AS HUGEINT) AS sxy,
        |  CAST(sum(CAST(post AS HUGEINT) * post) AS HUGEINT) AS syy,
        |  CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT) AS x0,
        |  CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS y0,
        |  CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT) AS x1,
        |  CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS y1
        | FROM u)
        |SELECT n0, n1,
        | round(CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0, 4)
        |   AS uplift_raw_cents,
        | round(CASE WHEN n * sxx - sx * sx > 0 THEN
        |   CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS theta,
        | round(CASE WHEN n * sxx - sx * sx > 0 THEN
        |  (CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0)
        |  - (CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE))
        |    * (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0) END, 4)
        |   AS uplift_cuped_cents,
        | round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |  THEN (CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE))
        |  * (CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * syy - sy * sy AS DOUBLE)) END, 6) AS var_reduction
        |FROM m""".stripMargin,
    // micro-unit quality means; the rank/window order compares identical
    // exact-int-ratio doubles.
    "q275_mixture_plan" ->
      """WITH docs AS (
        | SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |  CAST(round(CASE WHEN length(text) > 0 THEN
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |      AS DOUBLE) / length(text) ELSE 0.0 END * 1000000)
        |   AS BIGINT) AS q
        | FROM documents),
        |src AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens,
        |  CAST(sum(q) AS BIGINT) AS qsum
        | FROM docs GROUP BY source),
        |r AS (
        | SELECT source, n_docs, tokens, qsum,
        |  row_number() OVER (ORDER BY CAST(qsum AS DOUBLE) / n_docs DESC,
        |    source) AS quality_rank,
        |  coalesce(CAST(sum(tokens) OVER (ORDER BY CAST(qsum AS DOUBLE) / n_docs DESC, source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bef
        | FROM src)
        |SELECT source, CAST(quality_rank AS BIGINT) AS quality_rank,
        | n_docs, tokens,
        | round(CAST(qsum AS DOUBLE) / n_docs / 1000000, 6) AS mean_quality,
        | CAST(greatest(0, least(tokens, 500000 - bef)) AS BIGINT)
        |   AS take_tokens,
        | round(CAST(greatest(0, least(tokens, 500000 - bef)) AS DOUBLE)
        |   / tokens, 6) AS take_frac
        |FROM r""".stripMargin,
    // md5 keep-first, then the q220 chunk-keeper rule collapsed to
    // doc-level survival; retention ratios divide exact longs.
    "q276_dedup_funnel" ->
      """WITH docs AS (
        | SELECT doc_id, text,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        | FROM documents),
        |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t0 FROM docs),
        |keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY md5(text)),
        |ex AS (SELECT d.* FROM docs d JOIN keep USING (doc_id)),
        |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM ex),
        |chunks AS (
        | SELECT doc_id, CAST(i.i AS BIGINT) AS idx,
        |  array_to_string(t[16 * i.i + 1 : 16 * i.i + 16], ' ') AS chunk
        | FROM toks2 CROSS JOIN LATERAL
        |  (SELECT unnest(range(0, (len(t) + 15) // 16)) AS i) i),
        |kept AS (
        | SELECT chunk, min({'doc_id': doc_id, 'idx': idx}) AS keeper
        | FROM chunks GROUP BY chunk),
        |surv AS (
        | SELECT DISTINCT c.doc_id
        | FROM chunks c JOIN kept k USING (chunk)
        | WHERE {'doc_id': c.doc_id, 'idx': c.idx} = k.keeper),
        |stages AS (
        | SELECT CAST(1 AS BIGINT) AS stage, 'ingest' AS name,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens FROM docs
        | UNION ALL
        | SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(toks) AS BIGINT) FROM ex
        | UNION ALL
        | SELECT 3, 'chunk_dedup', CAST(count(*) AS BIGINT),
        |  CAST(sum(toks) AS BIGINT) FROM ex JOIN surv USING (doc_id))
        |SELECT stage, name, n_docs, n_tokens,
        | round(CAST(n_tokens AS DOUBLE) / t0, 6) AS token_retention
        |FROM stages, tot""".stripMargin,
    // per-user replay of the dynamic merge rule: break when ts ≥ running
    // max of previous (ts + gap); q238's convention with variable gaps.
    "q277_dynamic_session" ->
      """WITH e AS (
        | SELECT user_id, event_id, value,
        |  CAST(epoch_us(ts) AS BIGINT) AS tsu,
        |  CAST(epoch_us(ts) AS BIGINT) +
        |   CASE WHEN event_type = 'purchase' THEN 3600000000
        |        ELSE 1800000000 END AS endu
        | FROM events),
        |r AS (
        | SELECT *, max(endu) OVER (PARTITION BY user_id
        |   ORDER BY tsu, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
        | FROM e),
        |s AS (
        | SELECT *, CASE WHEN run_end IS NULL OR tsu >= run_end
        |   THEN 1 ELSE 0 END AS new_session
        | FROM r),
        |x AS (
        | SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        | FROM s)
        |SELECT user_id,
        | CAST(min(tsu) // 1000000 AS BIGINT) AS session_start,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 4) AS session_value
        |FROM x GROUP BY user_id, session_seq""".stripMargin,
    // exact-percentile boundaries, bucket = bounded boundary-compare sum
    // (the q104 device at 9 boundaries); identical interpolated doubles.
    "q278_equiheight_hist" ->
      """WITH b AS (
        | SELECT min(l_extendedprice) AS b0,
        |  quantile_cont(l_extendedprice, 0.1) AS b1,
        |  quantile_cont(l_extendedprice, 0.2) AS b2,
        |  quantile_cont(l_extendedprice, 0.3) AS b3,
        |  quantile_cont(l_extendedprice, 0.4) AS b4,
        |  quantile_cont(l_extendedprice, 0.5) AS b5,
        |  quantile_cont(l_extendedprice, 0.6) AS b6,
        |  quantile_cont(l_extendedprice, 0.7) AS b7,
        |  quantile_cont(l_extendedprice, 0.8) AS b8,
        |  quantile_cont(l_extendedprice, 0.9) AS b9,
        |  max(l_extendedprice) AS b10
        | FROM lineitem)
        |SELECT CAST(1 + (CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b4 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b5 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b6 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b7 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b8 THEN 1 ELSE 0 END)
        |  + (CASE WHEN l_extendedprice > b9 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | round(min(l_extendedprice), 4) AS lo_seen,
        | round(max(l_extendedprice), 4) AS hi_seen
        |FROM lineitem, b GROUP BY 1""".stripMargin,
    // strata contributions in integer milli-cents (q93 round-to-int
    // device) so the cross-strata fold is exact.
    "q279_post_stratification" ->
      """WITH o AS (
        | SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  CASE WHEN CAST(CAST(concat('0x',
        |    substr(md5('ps_' || o_orderkey), 1, 8)) AS BIGINT) AS DOUBLE)
        |    / 4294967296.0 < 0.1 THEN 1 ELSE 0 END AS inn
        | FROM orders),
        |st AS (
        | SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS nh,
        |  CAST(sum(inn) AS BIGINT) AS nh_s,
        |  CAST(sum(CASE WHEN inn = 1 THEN cents ELSE 0 END) AS BIGINT)
        |    AS sh_s,
        |  CAST(sum(cents) AS BIGINT) AS sh
        | FROM o GROUP BY 1),
        |t AS (
        | SELECT nh, nh_s, sh_s, sh,
        |  CASE WHEN nh_s > 0 THEN CAST(round(
        |    CAST(nh * sh_s AS DOUBLE) / nh_s * 1000.0) AS BIGINT)
        |   ELSE 0 END AS term
        | FROM st)
        |SELECT CAST(sum(nh) AS BIGINT) AS n_pop,
        | CAST(sum(nh_s) AS BIGINT) AS n_sample,
        | round(CAST(sum(sh_s) AS DOUBLE) / sum(nh_s) / 100, 4)
        |   AS naive_mean,
        | round(CAST(sum(term) AS DOUBLE) / 1000 / sum(nh) / 100, 4)
        |   AS post_strat_mean,
        | round(CAST(sum(sh) AS DOUBLE) / sum(nh) / 100, 4)
        |   AS population_mean
        |FROM t""".stripMargin,
    "q280_tpch_q4" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1997-01-01'
        | AND EXISTS (SELECT 1 FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1""".stripMargin,
    // the oracle's single ordered window IS the semantics; the Spark side
    // computes the same running max with the two-phase bucket device.
    "q281_pareto_frontier" ->
      """WITH p AS (
        | SELECT p_partkey, p_name, p_retailprice,
        |  CAST(p_size AS BIGINT) AS p_size
        | FROM part),
        |pp AS (
        | SELECT p_retailprice, CAST(max(p_size) AS BIGINT) AS mx
        | FROM p GROUP BY 1),
        |cm AS (
        | SELECT p_retailprice, mx,
        |  max(mx) OVER (ORDER BY p_retailprice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cmax
        | FROM pp)
        |SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM p JOIN cm USING (p_retailprice)
        |WHERE (cmax IS NULL OR p_size > cmax) AND p_size = mx""".stripMargin,
    // exact degree moments through the HUGEINT closed form.
    "q282_assortativity" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u AS src, v AS dst FROM p
        |      UNION ALL SELECT v AS src, u AS dst FROM p),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY 1),
        |j AS (
        | SELECT dx.deg AS dx, dy.deg AS dy
        | FROM e JOIN deg dx ON dx.node = e.src
        |        JOIN deg dy ON dy.node = e.dst),
        |m AS (
        | SELECT CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
        |  CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
        |  CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
        |  CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy
        | FROM j)
        |SELECT CAST(n AS BIGINT) AS n_edge_ends,
        | round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |  THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE)) END, 6)
        |   AS assortativity
        |FROM m""".stripMargin,
    // one min-agg for first appearance; cumulative V over 10 rows.
    "q283_heaps_law" ->
      """WITH nn AS (
        | SELECT max(doc_id) AS mx, min(doc_id) AS mn FROM documents),
        |w AS (
        | SELECT least(10, ((doc_id - mn) * 10) // (mx - mn + 1) + 1)
        |   AS decile, w
        | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |       FROM documents), nn
        | WHERE length(w) > 0),
        |fs AS (SELECT w, CAST(min(decile) AS BIGINT) AS decile
        |       FROM w GROUP BY w),
        |pd AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_words
        |       FROM fs GROUP BY decile),
        |tk AS (SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS tokens FROM w GROUP BY decile),
        |g AS (
        | SELECT tk.decile, CAST(coalesce(pd.new_words, 0) AS BIGINT)
        |   AS new_words, tokens
        | FROM tk LEFT JOIN pd USING (decile))
        |SELECT decile, new_words,
        | CAST(sum(new_words) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab,
        | CAST(sum(tokens) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |FROM g""".stripMargin,
    // q246's exact moment table into the variance-to-mean ratio.
    "q284_burstiness" ->
      """WITH hourly AS (
        | SELECT event_type,
        |  CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS h,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |m AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(sum(c * c) AS BIGINT) AS s2
        | FROM hourly GROUP BY 1)
        |SELECT event_type, n_hours, n_events,
        | round((CAST(s2 AS DOUBLE)
        |   - CAST(n_events AS DOUBLE) * n_events / n_hours)
        |  / n_hours / (CAST(n_events AS DOUBLE) / n_hours), 6) AS fano
        |FROM m""".stripMargin,
    // the oracle keeps the textbook correlated form (nested IN + scalar
    // correlated SUM) — DuckDB decorrelates it itself; the Spark side is
    // the hand-decorrelated aggregate algebra. Same relation.
    "q285_tpch_q20" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        | SELECT l_suppkey FROM (
        |  SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_type = 'SMALL'
        |   AND l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2) ps
        | WHERE q > 0.5 * (
        |  SELECT sum(l_quantity) FROM lineitem l2
        |  WHERE l2.l_partkey = ps.l_partkey
        |   AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l2.l_shipdate < TIMESTAMP '1997-01-01'))""".stripMargin,
    "q286_tpch_q22" ->
      """WITH a AS (
        | SELECT round(avg(c_acctbal), 4) AS ab
        | FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        | round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |   / 100, 2) AS totacctbal
        |FROM customer c, a
        |WHERE c_acctbal > a.ab
        | AND NOT EXISTS (SELECT 1 FROM orders o
        |   WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey""".stripMargin,
    // textbook correlated scalar-min; the suppkey tie-break mirrors the
    // engine's struct-min argmin
    "q287_tpch_q2" ->
      """WITH u AS (
        | SELECT l_partkey, l_suppkey,
        |  min(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT))
        |    AS mu
        | FROM lineitem JOIN part ON p_partkey = l_partkey
        | WHERE p_type = 'PROMO' AND p_size > 25 AND l_quantity > 0
        | GROUP BY 1, 2),
        |best AS (
        | SELECT u.l_partkey, min(u.l_suppkey) AS l_suppkey, u.mu
        | FROM u
        | WHERE u.mu = (SELECT min(u2.mu) FROM u u2
        |               WHERE u2.l_partkey = u.l_partkey)
        | GROUP BY u.l_partkey, u.mu)
        |SELECT b.l_partkey AS p_partkey, b.l_suppkey AS s_suppkey, s_name,
        | round(CAST(mu AS DOUBLE) / 100, 2) AS unit_price
        |FROM best b JOIN supplier s ON s.s_suppkey = b.l_suppkey""".stripMargin,
    "q288_tpch_q11" ->
      """WITH pp AS (
        | SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS rev
        | FROM lineitem GROUP BY 1)
        |SELECT l_partkey AS p_partkey,
        | round(CAST(rev AS DOUBLE) / 100, 2) AS value
        |FROM pp
        |WHERE rev * 2000 > (SELECT sum(rev) FROM pp)""".stripMargin,
    "q289_tpch_q13" ->
      """WITH cc AS (
        | SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        | FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM cc GROUP BY c_count""".stripMargin,
    "q290_tpch_q15" ->
      """WITH rev AS (
        | SELECT l_suppkey AS s_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS rc
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY 1)
        |SELECT r.s_suppkey, s_name,
        | round(CAST(rc AS DOUBLE) / 100, 2) AS total_revenue
        |FROM rev r JOIN supplier s USING (s_suppkey)
        |WHERE rc = (SELECT max(rc) FROM rev)""".stripMargin,
    "q291_tpch_q16" ->
      """SELECT p_brand, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_type <> 'PROMO'
        | AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        | AND l_suppkey NOT IN (
        |   SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2""".stripMargin,
    "q292_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
        | CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
        | o_totalprice, sum(l_quantity) AS total_qty
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    "q293_clustering_depth" ->
      """WITH base AS (
        | SELECT l_orderkey, CAST(epoch_us(l_shipdate) AS BIGINT) AS sd
        | FROM lineitem),
        |ext AS (SELECT min(sd) AS mn, max(sd) AS mx FROM base),
        |fids AS (
        | SELECT sd, l_orderkey // 1000 AS fid_nat,
        |  (sd - mn) // (((mx - mn) // 15) + 1) AS fid_clu,
        |  l_orderkey % 16 AS fid_rr
        | FROM base, ext),
        |ov AS (
        | SELECT lay, fid, CAST(count(*) AS BIGINT) AS ovc FROM (
        |  SELECT a.lay, a.fid
        |  FROM (SELECT lay, fid, min(sd) AS fmin, max(sd) AS fmax FROM (
        |         SELECT 'natural' AS lay, fid_nat AS fid, sd FROM fids
        |         UNION ALL
        |         SELECT 'clustered', fid_clu, sd FROM fids
        |         UNION ALL
        |         SELECT 'roundrobin', fid_rr, sd FROM fids)
        |        GROUP BY 1, 2) a
        |  JOIN (SELECT lay, fid, min(sd) AS fmin, max(sd) AS fmax FROM (
        |         SELECT 'natural' AS lay, fid_nat AS fid, sd FROM fids
        |         UNION ALL
        |         SELECT 'clustered', fid_clu, sd FROM fids
        |         UNION ALL
        |         SELECT 'roundrobin', fid_rr, sd FROM fids)
        |        GROUP BY 1, 2) b
        |   ON a.lay = b.lay AND a.fmin <= b.fmax AND a.fmax >= b.fmin)
        | GROUP BY 1, 2)
        |SELECT lay AS layout, CAST(count(*) AS BIGINT) AS n_files,
        | round(CAST(sum(ovc) AS DOUBLE) / count(*), 6) AS avg_overlap,
        | CAST(max(ovc) AS BIGINT) AS max_overlap
        |FROM ov GROUP BY 1""".stripMargin,
    "q294_join_card_estimate" ->
      """WITH ck AS (
        | SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        | FROM lineitem GROUP BY 1),
        |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact FROM ck),
        |g AS (
        | SELECT 'global' AS method,
        |  CAST(sum(c) * sum(c) // count(*) AS BIGINT) AS est
        | FROM ck),
        |h AS (
        | SELECT 'hist16' AS method, CAST(sum(e) AS BIGINT) AS est FROM (
        |  SELECT sum(c) * sum(c) // count(*) AS e
        |  FROM ck GROUP BY l_partkey % 16))
        |SELECT method, est, exact,
        | round(CAST(est - exact AS DOUBLE) / exact, 6) AS rel_err
        |FROM (SELECT * FROM g UNION ALL SELECT * FROM h), ex""".stripMargin,
    "q295_qld_retrieval" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |d AS (
        | SELECT doc_id, len(w) AS dl,
        |  len(list_filter(w, x -> x = 'vector')) AS tf1,
        |  len(list_filter(w, x -> x = 'join')) AS tf2,
        |  len(list_filter(w, x -> x = 'scan')) AS tf3
        | FROM t),
        |c AS (SELECT sum(dl) AS ct, sum(tf1) AS cf1, sum(tf2) AS cf2,
        |       sum(tf3) AS cf3 FROM d)
        |SELECT doc_id, round(
        |  ln((tf1 + 2000.0 * cf1 / ct) / (dl + 2000.0)) +
        |  ln((tf2 + 2000.0 * cf2 / ct) / (dl + 2000.0)) +
        |  ln((tf3 + 2000.0 * cf3 / ct) / (dl + 2000.0)), 6) AS qld
        |FROM d, c
        |ORDER BY qld DESC, doc_id LIMIT 10""".stripMargin,
    // fold order: list_reduce over ORDER BY bin == Spark's aggregate()
    // over array_sort — 0.0 + t1 is IEEE-exact, so the missing explicit
    // init cannot diverge
    "q296_brier_decomposition" ->
      """WITH p AS (
        | SELECT o_orderkey * 7919 % 100 AS pc,
        |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        | FROM orders),
        |b AS (
        | SELECT pc // 10 AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pc) AS BIGINT) AS sp, CAST(sum(y) AS BIGINT) AS sy
        | FROM p GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(y) AS BIGINT) AS syy,
        |         CAST(sum((pc - 100 * y) * (pc - 100 * y)) AS BIGINT) AS sq
        |        FROM p),
        |terms AS (
        | SELECT b.bin,
        |  (CAST(b.sp AS DOUBLE) / 100 - b.sy) *
        |  (CAST(b.sp AS DOUBLE) / 100 - b.sy) / b.n AS relt,
        |  (CAST(b.sy AS DOUBLE) / b.n - CAST(t.syy AS DOUBLE) / t.nn) *
        |  (CAST(b.sy AS DOUBLE) / b.n - CAST(t.syy AS DOUBLE) / t.nn) *
        |  b.n AS rest
        | FROM b, tot t),
        |f AS (
        | SELECT list_reduce(list(relt ORDER BY bin), (a, x) -> a + x) AS rel,
        |  list_reduce(list(rest ORDER BY bin), (a, x) -> a + x) AS res
        | FROM terms)
        |SELECT round(CAST(sq AS DOUBLE) / nn / 10000, 6) AS brier,
        | round(rel / nn, 6) AS reliability,
        | round(res / nn, 6) AS resolution,
        | round((CAST(syy AS DOUBLE) / nn) * (1.0 - CAST(syy AS DOUBLE) / nn), 6)
        |   AS uncertainty
        |FROM f, tot""".stripMargin,
    "q297_l_diversity" ->
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l_distinct,
        | count(DISTINCT o_orderstatus) >= 2 AS diverse
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q298_top_paths" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS tss
        | FROM events),
        |s AS (
        | SELECT *, CASE WHEN lag(tss) OVER w IS NULL
        |   OR tss - lag(tss) OVER w > 1800 THEN 1 ELSE 0 END AS nw
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
        |x AS (
        | SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |   ORDER BY tss, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        | FROM s),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY user_id, sess
        |   ORDER BY tss, event_id) AS rn
        | FROM x),
        |pth AS (
        | SELECT user_id, sess, string_agg(event_type, '>' ORDER BY rn) AS path
        | FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM pth GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin,
    "q299_rfm_segments" ->
      """WITH o AS (
        | SELECT o_custkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |ref AS (SELECT max(o_orderdate) AS refd FROM o),
        |per AS (
        | SELECT o_custkey, CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(cents) AS BIGINT) AS mon,
        |  CAST(date_diff('day', max(o_orderdate), refd) AS BIGINT) AS rec
        | FROM o, ref GROUP BY o_custkey, refd),
        |b AS (
        | SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS br,
        |  quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS bf,
        |  quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS bm
        | FROM per),
        |sc AS (
        | SELECT 6 - (1 + (rec > br[1])::INT + (rec > br[2])::INT
        |   + (rec > br[3])::INT + (rec > br[4])::INT) AS r,
        |  1 + (freq > bf[1])::INT + (freq > bf[2])::INT
        |   + (freq > bf[3])::INT + (freq > bf[4])::INT AS f,
        |  1 + (mon > bm[1])::INT + (mon > bm[2])::INT
        |   + (mon > bm[3])::INT + (mon > bm[4])::INT AS m,
        |  mon
        | FROM per, b)
        |SELECT format('{:d}-{:d}-{:d}', r, f, m) AS segment,
        | CAST(count(*) AS BIGINT) AS n_customers,
        | round(CAST(sum(mon) AS DOUBLE) / 100, 2) AS monetary
        |FROM sc GROUP BY 1""".stripMargin,
    "q300_ngram_novelty" ->
      """WITH n AS (SELECT max(doc_id) AS mx, min(doc_id) AS mn
        |           FROM documents),
        |bi AS (
        | SELECT least(10, ((doc_id - mn) * 10) // (mx - mn + 1) + 1)
        |   AS decile,
        |  unnest(list_transform(
        |    range(1, greatest(len(string_split(text, ' ')) - 1, 0) + 1),
        |    i -> (string_split(text, ' '))[i] || ' '
        |       || (string_split(text, ' '))[i + 1])) AS g
        | FROM documents, n),
        |occ AS (
        | SELECT decile, g, CAST(count(*) AS BIGINT) AS c
        | FROM bi GROUP BY 1, 2),
        |fs AS (SELECT g, min(decile) AS fd FROM occ GROUP BY g)
        |SELECT CAST(decile AS BIGINT) AS decile,
        | CAST(sum(c) AS BIGINT) AS total_occ,
        | CAST(sum(CASE WHEN decile = fd THEN c ELSE 0 END) AS BIGINT)
        |   AS novel_occ,
        | round(CAST(sum(CASE WHEN decile = fd THEN c ELSE 0 END) AS DOUBLE)
        |   / sum(c), 6) AS novelty_rate
        |FROM occ JOIN fs USING (g)
        |GROUP BY decile""".stripMargin
  )
}
