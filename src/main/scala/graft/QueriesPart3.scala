package graft

import graft.dedup.Dedup
import graft.functions.Lambert93
import graft.ml.Models
import graft.multimodal.Multimodal
import graft.operators.{Cleaning, Impute, PrefixSum, Rankings}
import graft.similarity.Similarity
import graft.stats.Stats
import graft.streaming.EventsStream
import graft.text.{Mixing, Text}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Queries q142–q182 (41 entries) — graph/frequency analytics (pagerank, triangles, spans), sketches,
  * windowed series ops, quality scoring.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart3 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // Edit-distance self-join over the DISTINCT name dictionary with
    // length-band blocking (|len a − len b| ≤ maxDist prunes pairs before
    // any DP runs — the standard scale guard, since levenshtein ≥ length
    // difference); entity-resolution's pair-generation stage.
    "q142_fuzzy_join" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
      val a = names.select(col("p_name").as("name_a"),
        length(col("p_name")).as("la"))
      val b = names.select(col("p_name").as("name_b"),
        length(col("p_name")).as("lb"))
      a.join(b, col("name_a") < col("name_b") &&
          abs(col("la") - col("lb")) <= 2)
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 2)
        .select("name_a", "name_b", "dist")
    }),
    // Non-hierarchical GROUPING SETS — the grouping-set surface rollup
    // (q46) and cube (q61) can't express: the two single-column marginals
    // WITHOUT the pair or the grand total. One shuffle; Spark expands to
    // an Expand node feeding one hash agg, same as rollup. grouping()
    // flags (cast long both sides) disambiguate real NULL keys from
    // aggregated-away ones.
    "q143_grouping_sets" -> ((s, d) =>
      li(s, d)
        .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
          "cnt", "sum_qty")),
    // Span-limited EWMA (pandas adjust=true form, truncated at 16 terms —
    // the dropped tail weight is 0.75^16 < 1.1%): per-user trailing
    // exponentially-weighted mean of `value`. The 16-row bounded window
    // collects the frame into an array (frame order = window order on
    // both engines), then one higher-order fold applies weights newest-
    // heaviest, index-ascending so the summation association is identical
    // cross-engine. Bounded frame ⇒ scale-safe (no corpus-wide window;
    // per-user partitions). 0.75^k is exactly representable (3^k/4^k,
    // k ≤ 15) so power() is bit-identical; the final ratio is rounded
    // 4 dp per the libm parity rule.
    "q144_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-15, Window.currentRow)
      ev(s, d)
        .withColumn("__frame", collect_list(col("value")).over(w))
        .withColumn("__num", expr(
          """aggregate(
            |  zip_with(__frame,
            |    transform(__frame, (x, i) ->
            |      power(0.75D, CAST(size(__frame) - 1 - i AS DOUBLE))),
            |    (x, w) -> x * w),
            |  0D, (acc, t) -> acc + t)""".stripMargin))
        .withColumn("__den", expr(
          """aggregate(
            |  transform(__frame, (x, i) ->
            |    power(0.75D, CAST(size(__frame) - 1 - i AS DOUBLE))),
            |  0D, (acc, t) -> acc + t)""".stripMargin))
        .select(col("event_id"), col("user_id"),
          round(col("__num") / col("__den"), 4).as("ewma"))
    }),
    // Welch's unequal-variance t-test: does mean(value) differ between
    // clicks and purchases? Sufficient statistics only (n, Σx, Σx² per
    // group — one map-side-combinable hash agg; the q139 moments seam),
    // then the t statistic and Welch–Satterthwaite df as scalar
    // arithmetic on the 2-row table pivoted to one row. Double sums are
    // order-dependent ⇒ every derived scalar rounded 4 dp.
    "q145_welch_ttest" -> ((s, d) => {
      val g = ev(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("value")).as("s1"),
          sum(col("value") * col("value")).as("s2"))
      val p = g.agg(
        max(when(col("event_type") === "click", col("n"))).as("n1"),
        max(when(col("event_type") === "click", col("s1"))).as("a1"),
        max(when(col("event_type") === "click", col("s2"))).as("b1"),
        max(when(col("event_type") === "purchase", col("n"))).as("n2"),
        max(when(col("event_type") === "purchase", col("s1"))).as("a2"),
        max(when(col("event_type") === "purchase", col("s2"))).as("b2"))
      val m1 = col("a1") / col("n1"); val m2 = col("a2") / col("n2")
      // sample variance via (Σx² − n·mean²)/(n−1), the same form in SQL
      val v1 = (col("b1") - col("n1") * m1 * m1) / (col("n1") - lit(1.0))
      val v2 = (col("b2") - col("n2") * m2 * m2) / (col("n2") - lit(1.0))
      val se2 = v1 / col("n1") + v2 / col("n2")
      val df = se2 * se2 /
        ((v1 / col("n1")) * (v1 / col("n1")) / (col("n1") - lit(1.0)) +
          (v2 / col("n2")) * (v2 / col("n2")) / (col("n2") - lit(1.0)))
      p.select(col("n1").cast("long").as("n_click"),
        col("n2").cast("long").as("n_purchase"),
        round(m1, 4).as("mean_click"), round(m2, 4).as("mean_purchase"),
        round((m1 - m2) / sqrt(se2), 4).as("t_stat"),
        round(df, 4).as("welch_df"))
    }),
    // Population Stability Index — the distribution-drift monitor between
    // a reference corpus snapshot (even doc_id) and the current one (odd
    // doc_id), over n_chars in 10 equal-width bins from the REFERENCE
    // extent (broadcast 1-row bounds, the q135 binning shape). Laplace
    // (+1) smoothing keeps ln finite on empty bins; p/q are exact integer
    // ratios so only the ln seam needs the 4-dp round. Two hash aggs +
    // a 10-row join — scale-safe.
    "q146_psi" -> ((s, d) => {
      val ref = doc(s, d).filter(col("doc_id") % 2 === 0)
      val cur = doc(s, d).filter(col("doc_id") % 2 === 1)
      val bounds = ref.agg(min(col("n_chars")).as("__lo"),
        max(col("n_chars")).as("__hi"))
      def binned(df: DataFrame): DataFrame = df.crossJoin(broadcast(bounds))
        .withColumn("bin",
          least(lit(9L), greatest(lit(0L),
            floor((col("n_chars") - col("__lo")) * 10 /
              (col("__hi") - col("__lo") + 1)).cast("long"))))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      val r = binned(ref).withColumnRenamed("cnt", "cnt_ref")
      val c = binned(cur).withColumnRenamed("cnt", "cnt_cur")
      // corpus sizes as a broadcast 1-row scalar (q79's N pattern — stays
      // in the plan, no driver action)
      val tot = ref.agg(count(lit(1)).as("__nr"))
        .crossJoin(cur.agg(count(lit(1)).as("__nc")))
      val allBins = ref.sparkSession.range(10).select(col("id").as("bin"))
      val j = allBins
        .join(broadcast(r), Seq("bin"), "left")
        .join(broadcast(c), Seq("bin"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bin"),
          coalesce(col("cnt_ref"), lit(0L)).as("cnt_ref"),
          coalesce(col("cnt_cur"), lit(0L)).as("cnt_cur"),
          col("__nr"), col("__nc"))
      val p = (col("cnt_ref") + lit(1)).cast("double") /
        (col("__nr") + lit(10)).cast("double")
      val q = (col("cnt_cur") + lit(1)).cast("double") /
        (col("__nc") + lit(10)).cast("double")
      j.select(col("bin"), col("cnt_ref"), col("cnt_cur"),
        round((p - q) * log(p / q), 6).as("psi_term"))
    }),
    // Triangle counting over the co-purchase part graph (parts sharing an
    // order), by degree orientation — O(m^1.5) work whatever the skew
    // (graph/Triangles.scala). Edge building self-joins lineitem per
    // order (bounded basket size); a SUPPORT threshold (co-occur in ≥ 2
    // orders) keeps the signal edges and drops the single-co-occurrence
    // noise that would otherwise make a near-complete graph — the same
    // min-support device every frequent-itemset pipeline applies before
    // graph analytics.
    "q147_triangles" -> ((s, d) => {
      val lp = li(s, d).select(col("l_orderkey"), col("l_partkey"))
      val edges = lp.select(col("l_orderkey"), col("l_partkey").as("u"))
        .join(lp.select(col("l_orderkey"), col("l_partkey").as("v")),
          Seq("l_orderkey"))
        .filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("__sup"))
        .filter(col("__sup") >= 2)
        .select("u", "v")
      graft.graph.Triangles.count(edges)
    }),
    // Two-sample Kolmogorov–Smirnov: D = max |ECDF_click − ECDF_view|
    // over the shared distinct-value table. Cumulative counts come from
    // ONE multi-weight distributed prefix sum (GlobalRank — no corpus-wide
    // window); the ECDFs are integer-ratio divisions, so every derived
    // double is bit-deterministic cross-engine: NO rounding seam at all.
    // argmax is the ≤-smallest value attaining D (TakeOrdered, k=1).
    "q148_ks_test" -> ((s, d) => {
      val sc = ev(s, d).filter(col("event_type").isin("click", "view"))
        .select(col("value"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("c1"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("c2"))
      val g = sc.groupBy("value")
        .agg(sum(col("c1")).as("n1v"), sum(col("c2")).as("n2v"))
      val cum = graft.operators.GlobalRank
        .exclusivePrefixSums(g, "value", Seq("n1v", "n2v"))
      val tot = g.agg(sum(col("n1v")).as("__n1"), sum(col("n2v")).as("__n2"))
      cum.crossJoin(broadcast(tot))
        .select(col("value"),
          abs((col("cum_before_n1v") + col("n1v")).cast("double") / col("__n1")
            - (col("cum_before_n2v") + col("n2v")).cast("double") / col("__n2"))
            .as("d"),
          col("__n1"), col("__n2"))
        .orderBy(col("d").desc, col("value").asc).limit(1)
        .select(col("__n1").as("n_click"), col("__n2").as("n_view"),
          col("d").as("d_stat"), col("value").as("at_value"))
    }),
    // Runtime Bloom pre-filter ahead of an exact semi-join — the
    // user-level form of AQE's InjectRuntimeFilter: the dim side's keys
    // condense into a 1 KB bitset (bloom_build, map-side-combinable OR),
    // broadcast as a 1-row scalar, and the fact side drops non-members
    // MAP-SIDE before any shuffle. The exact semi-join then removes the
    // ~ε false positives, so the bloom stage is semantically transparent
    // (the oracle is the plain semi-join) — it exists to cut the shuffled
    // fact volume to ~|matching| at 100 TB. Probe and build share one JVM
    // hash (Murmur3), so no false negatives by construction.
    "q149_bloom_join" -> ((s, d) => {
      import graft.functions.BloomFilterAgg
      val dim = Tables.supplier(s, d).filter(col("s_nationkey") < 5)
        .select(col("s_suppkey"))
      // The bitset is built by a tiny first job and INLINED as a literal
      // into the fact-side filter — the q73/q105 device (collect is of an
      // AGGREGATED 1 KB result, bounded by sketch geometry, never by data
      // size). A 1-row cross join would carry the probe as a
      // BroadcastNestedLoopJoin condition, which Catalyst floats ABOVE
      // the exact semi-join — shuffling the full fact side, exactly the
      // pathology the bloom exists to prevent. As a literal, the probe is
      // an ordinary Filter fused into the scan stage, below the exchange
      // (PLANS.md shows the filtered-then-shuffled shape).
      val words = dim.agg(
        BloomFilterAgg(col("s_suppkey"), numWords = 128, numHashes = 3)
          .as("bloom"))
        .first().getAs[scala.collection.Seq[Long]](0).toArray
      val pre = li(s, d).select(col("l_suppkey"), col("l_extendedprice"))
        .filter(BloomFilterAgg.mightContain(col("l_suppkey"), lit(words),
          numWords = 128, numHashes = 3))
      // the exact join pinned to its 100 TB shape (shuffled — a real dim
      // side outgrows the broadcast threshold)
      pre.join(dim.hint("shuffle_hash"),
          col("l_suppkey") === col("s_suppkey"), "leftsemi")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice")), 4).as("revenue"))
    }),
    // Bigram PMI — collocation mining over the corpus (the phrase-merge
    // signal tokenizer/vocab pipelines use). Adjacent pairs via a
    // codegen'd zip_with of the token array against its own shift (zero
    // shuffle to build), then two hash aggs; scalars ride a broadcast
    // 1-row cross join. PMI in log space (counts can exceed double-exact
    // products at corpus scale): ln(c_xy) + 2ln(N_tok) − ln(N_big) −
    // ln(c_x) − ln(c_y), libm → rounded 4 dp. Support floor c_xy ≥ 5;
    // top-100 by (pmi desc, pair asc) via TakeOrderedAndProject.
    "q150_bigram_pmi" -> ((s, d) => {
      val toks = doc(s, d).select(split(col("text"), " ").as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val big = toks.select(explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
          |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val bigc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
      val tot = uni.agg(sum(col("cw")).as("__nt"))
        .crossJoin(big.agg(count(lit(1)).as("__nb")))
      bigc
        .join(uni.select(col("w").as("w1"), col("cw").as("cx")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("cy")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("cxy"),
          round(log(col("cxy")) + lit(2.0) * log(col("__nt"))
            - log(col("__nb")) - log(col("cx")) - log(col("cy")), 4)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc).limit(100)
    }),
    // Last-observation-carried-forward gap fill — the time-series repair
    // step (sensor dropouts, sparse telemetry). Gaps are introduced
    // DETERMINISTICALLY (the q55/q103 md5-hex device — engine-exact, no
    // rand()), then filled per user with an ignoreNulls last() over the
    // unbounded-preceding frame. Carried values are original doubles —
    // no arithmetic, no rounding seam. Per-user partitions ⇒ scale-safe.
    "q151_locf" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sparse = ev(s, d).withColumn("v",
        when(substring(md5(col("event_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"), lit(null).cast("double"))
          .otherwise(col("value")))
      sparse.select(col("event_id"), col("user_id"),
        col("v").isNull.cast("long").as("was_gap"),
        last(col("v"), ignoreNulls = true).over(w).as("value_filled"))
    }),
    // Trailing-window z-score anomaly flags: each event scored against
    // the PRIOR 16 events' mean/std (frame excludes current — no
    // self-masking). Sufficient statistics in the window (sum, sum²) so
    // both engines run identical arithmetic; z rounded 4 dp (windowed
    // double sums are order-dependent at 1e-15). Null score below 8
    // observations or at zero variance. Bounded frame, per-user
    // partitions ⇒ scale-safe.
    "q152_rolling_zscore" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-16, -1)
      val n = count(col("value")).over(w)
      val s1 = sum(col("value")).over(w)
      val s2 = sum(col("value") * col("value")).over(w)
      ev(s, d)
        .withColumn("n_win", n)
        // ANSI mode errors on 0/0 for the first events in a partition, so
        // the guard lives on the intermediates, not just the final CASE
        .withColumn("__m", when(col("n_win") >= 8, s1 / col("n_win")))
        .withColumn("__v", when(col("n_win") >= 8,
          (s2 - col("n_win") * col("__m") * col("__m")) / (col("n_win") - lit(1))))
        .select(col("event_id"), col("user_id"), col("n_win"),
          when(col("n_win") >= 8 && col("__v") > 0,
            round((col("value") - col("__m")) / sqrt(col("__v")), 4))
            .as("zscore"))
    }),
    // Entity resolution end-to-end: q142's length-band candidate pairs →
    // exact levenshtein ≤ 2 edges → connected components (the shared
    // min-label fixpoint, graph/ConnectedComponents — fails loudly if the
    // round cap truncates) → lexicographically-least canonical per
    // cluster. String labels propagate fine: min-label only needs an
    // orderable id. The blocking bound (lev ≥ len-diff) makes candidate
    // generation lossless, so these are the TRUE components of the
    // "distance ≤ 2" graph — hence SQL-oracle-able via recursive CTE.
    "q153_entity_resolution" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
      val a = names.select(col("p_name").as("name_a"),
        length(col("p_name")).as("la"))
      val b = names.select(col("p_name").as("name_b"),
        length(col("p_name")).as("lb"))
      val pairs = a.join(b, col("name_a") < col("name_b") &&
          abs(col("la") - col("lb")) <= 2)
        .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("name_a").as("id_a"), col("name_b").as("id_b"))
      val (labels, converged) = graft.graph.ConnectedComponents.minLabel(
        pairs, names.select(col("p_name").as("node")), maxRounds = 16)
      if (!converged)
        throw new IllegalStateException(
          "q153: min-label propagation did not reach a fixpoint in 16 rounds")
      labels.select(col("node").as("name"), col("label").as("canonical"),
        count(lit(1)).over(Window.partitionBy(col("label")))
          .as("cluster_size"))
    }),
    // Weighted median (and p25/p75): smallest value whose cumulative
    // weight reaches the target fraction — revenue-weighted quantity
    // quantiles, the "what quantity does half the MONEY sit below" shape.
    // Weights aggregate per distinct value (one hash agg), then ONE
    // distributed prefix sum orders them (GlobalRank — no corpus-wide
    // window); all three threshold probes are conditional min-aggregates
    // in ONE pass over the cumulated table (r18). Weights are cent-exact
    // integers (×100) so the comparison has no float seam.
    "q154_weighted_median" -> ((s, d) => {
      val g = li(s, d)
        .select(col("l_quantity"),
          round(col("l_extendedprice") * 100).cast("long").as("w"))
        .groupBy("l_quantity").agg(sum(col("w")).as("wv"))
      val cum = graft.operators.GlobalRank.exclusivePrefixSum(g, "l_quantity", "wv")
        .withColumn("cum_w", col("cum_before") + col("wv"))
      val tot = g.agg(sum(col("wv")).as("__tw"))
      val c = cum.crossJoin(broadcast(tot))
      // integer cross-multiplication (cum·den ≥ tot·num) — exact; factors
      // ≤ 4 keep headroom to ~Long.Max/4 total cents. All three threshold
      // probes ride ONE aggregation over the cumulated table
      // (min-over-filter ≡ min(when(cond, v)) — nulls are ignored by min),
      // where the r17 form ran three separate probe aggs crossJoined
      // together, each replaying the corpus scan + hash agg + prefix-sum
      // subtree (PLAN_AUDIT's q154 BNLJ×11 / GlobalWindow×3; the heaviest
      // remaining replay tree — VERDICT r17). One corpus pass, one global
      // offset window, zero probe crossJoins; the value of every output
      // column is unchanged.
      def probe(num: Long, den: Long) =
        when(col("cum_w") * lit(den) >= col("__tw") * lit(num), col("l_quantity"))
      c.agg(min(probe(1L, 4L)).as("w_p25"), min(probe(1L, 2L)).as("w_median"),
        min(probe(3L, 4L)).as("w_p75"))
    }),
    // Snapshot diff — the data-versioning primitive (what changed between
    // yesterday's and today's corpus): full outer join on the key,
    // row-hash comparison, one status column. Snapshots are simulated
    // from the one events table by deterministic key arithmetic (old =
    // 4∤id, new = id%5≠0 with values bumped on id%7=0 — giving all four
    // statuses). xxhash64 is unavailable in DuckDB, so row identity uses
    // md5 of a canonical string — the engine-exact q55 device.
    "q155_snapshot_diff" -> ((s, d) => {
      val base = ev(s, d).select(col("event_id"), col("event_type"), col("value"))
      val old = base.filter(col("event_id") % 4 =!= 0)
      val neu = base.filter(col("event_id") % 5 =!= 0)
        .withColumn("value",
          when(col("event_id") % 7 === 0, col("value") + 1.0)
            .otherwise(col("value")))
      def hashed(df: DataFrame, pfx: String) = df.select(
        col("event_id").as(s"${pfx}_id"),
        md5(concat_ws("|", col("event_type"), col("value").cast("string")))
          .as(s"${pfx}_h"))
      hashed(old, "o").join(hashed(neu, "n"),
          col("o_id") === col("n_id"), "full_outer")
        .select(coalesce(col("o_id"), col("n_id")).as("event_id"),
          when(col("o_id").isNull, "added")
            .when(col("n_id").isNull, "removed")
            .when(col("o_h") =!= col("n_h"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("cnt"))
    }),
    // Jaro–Winkler similarity scoring over the blocked name dictionary —
    // the transposition-aware fuzzy scorer (levenshtein's complement for
    // name matching), as a custom codegen'd Catalyst expression
    // (functions/JaroWinkler.scala, bit-verified against DuckDB's native
    // implementation incl. the 0.7 boost threshold and integer t/2).
    // The length band here is the BLOCKING stage, part of the declared
    // semantics (JW has no levenshtein-style length bound); threshold on
    // the ROUNDED score so the cross-engine float seam can't flip the
    // cut.
    "q156_jaro_winkler" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
      val a = names.select(col("p_name").as("name_a"),
        length(col("p_name")).as("la"))
      val b = names.select(col("p_name").as("name_b"),
        length(col("p_name")).as("lb"))
      a.join(b, col("name_a") < col("name_b") &&
          abs(col("la") - col("lb")) <= 3)
        .withColumn("jw", round(
          graft.functions.JaroWinkler(col("name_a"), col("name_b")), 4))
        .filter(col("jw") >= 0.9)
        .select("name_a", "name_b", "jw")
    }),
    // Streaming rolling z-score — q152's stateful stream twin: per-user
    // ring-buffer state in flatMapGroupsWithState, scores each event
    // against its prior ≤16 values with bit-identical arithmetic (fold
    // order, variance shape, HALF_UP round), so the oracle is literally
    // the batch window SQL. State ~128 B/user — bounded by user
    // cardinality, not history.
    "q157_stream_zscore" -> ((s, d) =>
      EventsStream.rollingZScore(s, d)
        .select("event_id", "user_id", "n_win", "zscore")),
    // Multinomial naive Bayes, end-to-end in relational algebra: train on
    // the 80% key split, Laplace-smoothed per-class log-likelihoods over
    // two discrete features (hour of day; value decile from TRAIN-extent
    // bins), argmax per test row, confusion-matrix output. Every
    // probability is an exact integer ratio into ln (libm → score rounded
    // 4 dp; argmax on the ROUNDED score, ties to the lexicographic-min
    // class). The model IS three tiny count tables (broadcast joins) —
    // no iteration, one pass over train + one over test; per-row argmax
    // is a K-row window per event (K = |classes|).
    "q158_naive_bayes" -> ((s, d) => {
      val e = ev(s, d).select(col("event_id"), col("event_type"), col("ts"),
        col("value"))
      val train = e.filter(col("event_id") % 10 < 8)
      val test = e.filter(col("event_id") % 10 >= 8)
      val bounds = train.agg(min(col("value")).as("__lo"),
        max(col("value")).as("__hi"))
      def feat(df: DataFrame): DataFrame = df.crossJoin(broadcast(bounds))
        .withColumn("h", hour(col("ts")).cast("long"))
        .withColumn("b", least(lit(9L), greatest(lit(0L),
          floor((col("value") - col("__lo")) * 10 / (col("__hi") - col("__lo")))
            .cast("long"))))
        .drop("__lo", "__hi")
      // NOTE (r17): two reworks were measured here and REVERTED — (a)
      // lineage cuts on bounds/feat (+0.2 s: the replayed events scans
      // are cheap pruned columnar reads, the checkpoint jobs are not),
      // (b) deriving classes/scal as marginals of checkpointed c1/c2
      // (+0.3 s in both full-suite runs, same mechanism). The ~10-replay
      // plan shape (BNLJ×9 in PLAN_AUDIT) is the measured-cheapest form
      // at this table's scan cost; the count tables stay bounded at any
      // corpus size so the replays are pruned scans, not joins.
      val tr = feat(train)
      val classes = tr.groupBy(col("event_type").as("cls"))
        .agg(count(lit(1)).as("n_c"))
      val scal = tr.agg(count(lit(1)).as("__n"),
        countDistinct(col("h")).as("__v1"),
        countDistinct(col("b")).as("__v2"))
        .crossJoin(classes.agg(count(lit(1)).as("__k")))
      val c1 = tr.groupBy(col("event_type").as("cls"), col("h"))
        .agg(count(lit(1)).as("c1"))
      val c2 = tr.groupBy(col("event_type").as("cls"), col("b"))
        .agg(count(lit(1)).as("c2"))
      val scored = feat(test)
        .crossJoin(broadcast(classes))
        .join(broadcast(c1), Seq("cls", "h"), "left")
        .join(broadcast(c2), Seq("cls", "b"), "left")
        .crossJoin(broadcast(scal))
        .withColumn("score", round(
          log((col("n_c") + lit(1)).cast("double") /
            (col("__n") + col("__k")).cast("double")) +
          log((coalesce(col("c1"), lit(0L)) + lit(1)).cast("double") /
            (col("n_c") + col("__v1")).cast("double")) +
          log((coalesce(col("c2"), lit(0L)) + lit(1)).cast("double") /
            (col("n_c") + col("__v2")).cast("double")), 4))
      val w = Window.partitionBy("event_id")
        .orderBy(col("score").desc, col("cls").asc)
      scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .groupBy(col("event_type").as("actual"), col("cls").as("predicted"))
        .agg(count(lit(1)).as("cnt"))
    }),
    // Label-propagation community detection (synchronous, 2 fixed rounds,
    // deterministic): each node adopts its neighbors' most frequent label,
    // ties to the smallest — all-integer counts, so a SQL oracle unrolls
    // the rounds exactly (the PageRank replay rule without needing any
    // rounding). Same support-2 co-purchase graph as q147; per round one
    // join + one count agg + one per-node argmax window over the
    // neighbor-label groups.
    "q159_label_prop" -> ((s, d) => {
      val lp = li(s, d).select(col("l_orderkey"), col("l_partkey"))
      val p = lp.select(col("l_orderkey"), col("l_partkey").as("u"))
        .join(lp.select(col("l_orderkey"), col("l_partkey").as("v")),
          Seq("l_orderkey"))
        .filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("__sup"))
        .filter(col("__sup") >= 2)
        .select("u", "v")
      // explode-symmetrize (r18): both directions in ONE pass over the
      // support-2 basket self-join — the old unionAll re-ran the heavy
      // self-join + agg per branch inside LabelProp's edge checkpoint.
      // symmetric = true: LabelProp's identity-label first round
      // collapses to a plain group-count (no distinct, no join).
      val labels = graft.graph.LabelProp.run(
        graft.graph.EdgeLayout.symmetrize(p, "u", "v"),
        iters = 2, symmetric = true)
      labels.select(col("node"), col("label"),
        count(lit(1)).over(Window.partitionBy(col("label")))
          .as("community_size"))
    }),
    // Poisson bootstrap — THE distributed resampling scheme (per-row
    // Poisson(1) weights approximate multinomial resampling without any
    // global coordination): 32 deterministic pseudo-resamples from the
    // q103 md5-uniform device through the Poisson(1) inverse CDF
    // (identical literal thresholds both engines), one explode + one hash
    // agg. Resample means are order-dependent double sums → rounded 4 dp.
    // Output: the 32 resample means of `value` — the CI is percentiles of
    // this tiny relation.
    "q160_poisson_bootstrap" -> ((s, d) => {
      val u = conv(substring(md5(concat(col("event_id").cast("string"),
        lit("_"), col("b").cast("string"))), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val w = when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .otherwise(5L)
      // pre-shuffle by event id before the 32-way replica explode: the
      // single-row-group events file gives ONE scan task, which serialized
      // all 3.2M md5 draws (measured 3.3 s task CPU on one core, r17);
      // the md5 weight is a per-(event, b) function, so partitioning is
      // value-free and the width rides the session's shuffle partitions
      ev(s, d).select(col("event_id"), col("value"))
        .repartition(nPart(s), col("event_id"))
        .select(col("event_id"), col("value"),
          explode(sequence(lit(0L), lit(31L))).as("b"))
        .withColumn("w", w)
        .groupBy("b")
        .agg(round(sum(col("w") * col("value")) / sum(col("w")), 4)
          .as("boot_mean"))
    }),
    // k-core decomposition, two synchronous peel rounds (k=3) on the
    // support-2 co-purchase graph: each round drops nodes of degree < k
    // and removes their incident edges — all-integer, so the oracle
    // unrolls both rounds exactly. Per round: one count agg + two
    // semi-joins; the edge list is checkpointed once and reused, so the
    // expensive basket self-join runs a single time regardless of rounds.
    "q161_kcore" -> ((s, d) => {
      val p = copurchasePairs(s, d)
      // layout-preserving (r16): round 1's degree agg + src-semi reuse the
      // src hash + sort; later rounds run on the strictly-smaller peeled
      // residue, so only the full-size first round needs the free layout
      // CHAINED (r18): round 1's degree aggregate inside KCore.peel — the
      // edge checkpoint's single linear consumer — materializes this cache
      // en route, saving the standalone count job.
      val edges = graft.io.Checkpoints.truncateLayoutPreservingChained(
        graft.graph.EdgeLayout.symmetrize(p, "u", "v")
          .repartition(col("src")).sortWithinPartitions("src"))
      graft.graph.KCore.peel(edges, k = 3, rounds = 2)
    }),
    // Multi-source BFS, three synchronous frontier rounds: hop distance to
    // the nearest seed (node ≡ 0 mod 100) — the standard "distance to a
    // landmark set" primitive. Per round one join + one min agg; min-hop
    // labels are integers, so the oracle unrolls the rounds exactly.
    // Monotone-min propagation means re-relaxing already-settled nodes is
    // harmless (no frontier-only optimization needed for 3 rounds).
    "q162_bfs_hops" -> ((s, d) => {
      val p = copurchasePairs(s, d)
      // layout-preserving on dst — every BFS round probes the edge list
      // on dst, so the hash + sort pay once and every round joins in place
      val edges = graft.io.Checkpoints.truncateLayoutPreserving(
        graft.graph.EdgeLayout.symmetrize(p, "u", "v")
          .repartition(col("dst")).sortWithinPartitions("dst"))
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 100 === 0)
      graft.graph.Bfs.hops(edges, seeds, rounds = 3)
    }),
    // First-order Markov transition matrix over each user's event-type
    // sequence (ordered by ts, event_id): transition counts + row-
    // normalized probabilities. One lag window partitioned by user (the
    // sequence shuffle) + one hash agg; the row normalizer is a window
    // sum over the tiny (from_type) groups. Counts are exact integers;
    // the probability is one integer ratio → rounded 4 dp.
    "q163_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val t = ev(s, d)
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("cnt"))
      t.withColumn("prob", round(
        col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy(col("from_type"))), 4))
    }),
    // Benford first-digit audit of `value`: observed leading-digit
    // distribution vs the log-law expectation, with per-digit χ²
    // contributions — the classic fraud/data-quality screen. The leading
    // digit comes from the INTEGER round(|value|·10⁶) (identical HALF_UP
    // rounding both engines; string front-char avoids any log10-boundary
    // ambiguity). One hash agg + a broadcast 1-row total; expectation and
    // χ² terms are libm ln → rounded 4 dp.
    "q164_benford" -> ((s, d) => {
      val m = round(abs(col("value")) * lit(1e6), 0).cast("long")
      val digits = ev(s, d).select(m.as("m")).filter(col("m") > 0)
        .select(substring(col("m").cast("string"), 1, 1).cast("long")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val tot = digits.agg(sum(col("obs")).as("__n"))
      digits.crossJoin(broadcast(tot))
        .withColumn("expected", round(
          col("__n") * log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 4))
        .withColumn("chi2_term", round(
          pow(col("obs").cast("double")
            - col("__n") * log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 2)
            / (col("__n") * log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))), 4))
        .select("digit", "obs", "expected", "chi2_term")
    }),
    // Gini concentration of order revenue per market segment (the
    // inequality/skew audit): G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    // ascending-rank positions i. One join + one rank window partitioned
    // by segment + one hash agg; ties rank by (x, orderkey) so positions
    // are a total order. The rank-weighted sum is an order-dependent
    // double sum → rounded 4 dp.
    "q165_gini" -> ((s, d) => {
      val o = ord(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_totalprice").as("x"), col("o_orderkey"))
      val w = Window.partitionBy("segment")
        .orderBy(col("x").asc, col("o_orderkey").asc)
      o.withColumn("i", row_number().over(w))
        .groupBy("segment").agg(
          count(lit(1)).as("n"),
          round((lit(2) * sum(col("i") * col("x"))
              - (count(lit(1)) + lit(1)) * sum(col("x")))
            / (count(lit(1)) * sum(col("x"))), 4).as("gini"))
    }),
    // Kaplan–Meier survival over per-user activity spans (days between
    // first and last event; every span "observed"): S(t) = Π(1 − dᵢ/nᵢ)
    // over event-times ≤ t. The product is exp(Σ ln) over the cumulative
    // window; a zero factor (last duration, nᵢ = dᵢ) is handled by flag,
    // not ln(0) — Spark's log() returns null on 0 where DuckDB gives
    // -inf, so the zero case must never reach ln. The windowed relation
    // is bounded by DISTINCT durations (≤ the span of days in the data,
    // the W3 tiny-result shape), so the global window is not a scale
    // risk; the at-risk count is PrefixSum's exclusive sum, and the
    // per-user span agg is the one real shuffle.
    "q166_kaplan_meier" -> ((s, d) => {
      val spans = ev(s, d).groupBy(col("user_id"))
        .agg(datediff(max(col("ts")), min(col("ts"))).cast("long").as("t"))
      val dt = spans.groupBy("t").agg(count(lit(1)).as("d"))
      val tot = dt.agg(sum(col("d")).as("__n"))
      val w = Window.orderBy(col("t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = PrefixSum(dt, Seq(col("t")), PrefixSum.Sum(col("d"), "__before"))
        .crossJoin(broadcast(tot))
        .withColumn("n_risk", col("__n") - col("__before"))
      base
        .withColumn("__dead", max(when(col("d") === col("n_risk"), 1L)
          .otherwise(0L)).over(w))
        .withColumn("surv", when(col("__dead") === 1, lit(0.0)).otherwise(
          round(exp(sum(log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .over(w)), 4)))
        .select("t", "d", "n_risk", "surv")
    }),
    // Autocorrelation of the daily event count at lags 1–7 — the
    // seasonality screen. Days become epoch-day integers so the lag join
    // is a pure integer equi-join; every Pearson input is an exact
    // integer sum (CAST to BIGINT in the oracle per the HUGEINT rule),
    // so numerator/denominator are bit-deterministic doubles — NO
    // rounding seam, like q148. One date agg, one 7-way explode of a
    // 365-row relation, one equi-join, one hash agg per lag.
    "q167_acf" -> ((s, d) => {
      val daily = ev(s, d)
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"))
        .agg(count(lit(1)).as("c"))
      val lags = daily.select(col("day"), col("c"),
        explode(sequence(lit(1L), lit(7L))).as("lag"))
      lags.alias("a")
        .join(daily.alias("b"), col("b.day") === col("a.day") + col("a.lag"))
        .select(col("a.lag").as("lag"), col("a.c").as("x"), col("b.c").as("y"))
        .groupBy("lag").agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select(col("lag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double")
              * (col("n") * col("sy2") - col("sy") * col("sy")).cast("double")))
            .as("acf"))
    }),
    // Frequent 3-itemsets with the apriori prune: candidate triples are
    // generated ONLY from frequent pairs (every 2-subset must be
    // frequent before the triple is ever counted) — the device that
    // keeps candidate volume polynomial in the frequent-pair count
    // instead of exploding with basket size. Baskets are DISTINCT
    // (order, part) so support counts orders. Three joins + two
    // semi-joins + one hash agg; all-integer.
    "q168_freq_triples" -> ((s, d) => {
      // r18 rework (VERDICT r17 #4): baskets as per-order sorted DISTINCT
      // part arrays — ONE shuffle (the groupBy) replaces the r17 cascade
      // of distinct + truncated basket self-join + extension join + two
      // apriori semi-joins. Ordered 3-subsets are generated per basket by
      // a nested array transform; the explode fan-out is C(|basket|, 3),
      // bounded by construction (a TPC-H order has ≤ 7 lines, ≤ 35
      // triples — never corpus-wide), and each basket contributes each
      // triple exactly once, so count(*) still counts ORDERS. The output
      // is provably identical: support(t) ≥ 2 implies every 2-subset of t
      // has support ≥ 2 (monotonicity), so the apriori semi-joins pruned
      // work, never rows. collect_set's buffer is bounded by basket size
      // (the Bench fallbackThreshold contract).
      // pinned pre-shuffle (r17 rule): the basket groupBy's exchange is
      // AQE-coalescible and collapsed to ~4 partitions at sf0.1,
      // serializing the interpreted combination transform downstream; the
      // pinned repartition satisfies the groupBy's distribution, so the
      // agg and the explode both run at session width
      val bk = li(s, d).select(col("l_orderkey"), col("l_partkey"))
        .repartition(nPart(s), col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      bk.select(explode(expr(
          """flatten(transform(items, (x, i) ->
            |  flatten(transform(slice(items, i + 2, size(items)), (y, j) ->
            |    transform(slice(items, i + j + 3, size(items)),
            |      z -> struct(x AS u, y AS v, z AS w))))))""".stripMargin))
          .as("t"))
        .select(col("t.u").as("u"), col("t.v").as("v"), col("t.w").as("w"))
        .groupBy("u", "v", "w").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
    }),
    // Association rules from the frequent pairs: confidence and lift for
    // both rule directions (u→v, v→u) — the q168 family's scoring step.
    // Item and pair supports are one hash agg each over distinct-order
    // baskets; the basket total rides a broadcast 1-row scalar. All
    // inputs are exact integers; conf/lift are integer-ratio doubles
    // rounded 4 dp.
    "q169_lift_rules" -> ((s, d) => {
      // r18 rework (VERDICT r17 #4, the q168 device): per-order sorted
      // distinct basket arrays in ONE shuffle; the order count is the
      // basket-row count, item support explodes items (one distinct gram
      // per order → count(*) counts orders), and pair support explodes
      // ordered 2-subsets per basket (C(|basket|,2) ≤ 21 rows per TPC-H
      // order) instead of the basket self-join. bk still feeds three
      // consumers — truncate so the basket pass runs once (r17 seam).
      // collect_set's buffer is bounded by basket size (the Bench
      // fallbackThreshold contract).
      // pinned pre-shuffle (r17 rule, the q168 note): keeps the truncated
      // basket table at session width so the pair/item explodes run wide
      val bk = graft.io.Checkpoints.truncate(
        li(s, d).select(col("l_orderkey"), col("l_partkey"))
          .repartition(nPart(s), col("l_orderkey"))
          .groupBy("l_orderkey")
          .agg(sort_array(collect_set(col("l_partkey"))).as("items")),
        eager = false)
      val nOrders = bk.agg(count(lit(1)).as("__n"))
      val isup = bk.select(explode(col("items")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("s"))
      val p2 = bk.select(explode(expr(
          """flatten(transform(items, (x, i) ->
            |  transform(slice(items, i + 2, size(items)),
            |    y -> struct(x AS u, y AS v))))""".stripMargin)).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("pair_sup"))
        .filter(col("pair_sup") >= 2)
      val rules = p2.select(col("u").as("antecedent"),
          col("v").as("consequent"), col("pair_sup"))
        .unionAll(p2.select(col("v").as("antecedent"),
          col("u").as("consequent"), col("pair_sup")))
      rules
        .join(isup.select(col("item").as("antecedent"), col("s").as("s_a")),
          Seq("antecedent"))
        .join(isup.select(col("item").as("consequent"), col("s").as("s_c")),
          Seq("consequent"))
        .crossJoin(broadcast(nOrders))
        .select(col("antecedent"), col("consequent"), col("pair_sup"),
          round(col("pair_sup").cast("double") / col("s_a"), 4).as("conf"),
          round(col("pair_sup").cast("double") * col("__n")
            / (col("s_a") * col("s_c")), 4).as("lift"))
    }),
    // Revenue cohort matrix — the LTV view every growth team builds:
    // customers cohorted by first-order month, revenue and distinct
    // buyers by month age. Month arithmetic stays in integer
    // (year·12+month) space so no date-format parity seam exists; one
    // min-agg + one join + one hash agg (count-distinct adds its
    // expand). Revenue is an order-dependent double sum → rounded 4 dp.
    "q170_cohort_revenue" -> ((s, d) => {
      val o = ord(s, d)
      val f = o.groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("__f"))
      o.join(f, Seq("o_custkey"))
        .select(
          (year(col("__f")) * 100 + month(col("__f"))).cast("long").as("cohort"),
          ((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            - (year(col("__f")) * 12 + month(col("__f")))).cast("long").as("age"),
          col("o_custkey"), col("o_totalprice"))
        .groupBy("cohort", "age")
        .agg(countDistinct(col("o_custkey")).as("customers"),
          round(sum(col("o_totalprice")), 4).as("revenue"))
    }),
    // Herfindahl–Hirschman supplier-concentration index per part: the
    // market-structure audit (HHI = Σ share², share = supplier's slice of
    // the part's shipped quantity). Rather than summing per-supplier
    // share² doubles (order-dependent accumulation → cross-engine 4 dp
    // straddles), use the algebraic identity HHI = Σqᵢ² / (Σqᵢ)² on
    // 4-dp-scaled BIGINT quantities: both sums are exact integers, so
    // the single final division is bit-identical on any engine and any
    // partitioning. Two hash aggs total, no window. Precondition: scaled
    // per-supplier quantity < ~3e9 (qs² fits in a long through the sum),
    // comfortably true for quantity-like measures.
    "q171_hhi" -> ((s, d) => {
      val qs = li(s, d).groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(round(sum(col("l_quantity")), 4).as("q"))
        .select(col("l_partkey"),
          round(col("q") * 10000).cast("long").as("qs"))
      qs.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("qs")).as("__t"),
          sum(col("qs") * col("qs")).as("__s2"))
        .select(col("l_partkey"), col("n_suppliers"),
          round(col("__s2").cast("double")
            / (col("__t").cast("double") * col("__t").cast("double")), 4)
            .as("hhi"))
    }),
    // CUSUM changepoint scan over the daily event count: the day whose
    // cumulative deviation from the global mean is largest in absolute
    // value — the standard level-shift detector. The windowed relation
    // is the tiny daily table (W3 shape); the mean is an exact integer
    // ratio; the argmax orders by the ROUNDED statistic with a day
    // tie-break so both engines pick the same row.
    "q172_cusum" -> ((s, d) => {
      val daily = ev(s, d)
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"))
        .agg(count(lit(1)).as("c"))
      val st = daily.agg(sum(col("c")).as("__s"), count(lit(1)).as("__d"))
      val w = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(st))
        .withColumn("dev",
          col("c").cast("double") - col("__s").cast("double") / col("__d"))
        .withColumn("cusum", sum(col("dev")).over(w))
        .select(col("day"), round(col("cusum"), 4).as("cusum"),
          round(abs(col("cusum")), 4).as("__a"))
        .orderBy(col("__a").desc, col("day").asc).limit(1)
        .select("day", "cusum")
    }),
    // Gopher-style composite quality rules (Rae et al. 2021, App. A1.1,
    // reduced to this corpus's signal set): hard per-doc bounds on token
    // count, mean word length, type-token ratio, and duplicate-3-gram
    // fraction. Pure codegen'd per-row arithmetic — zero shuffle at any
    // scale. The per-rule booleans come back as columns so a pipeline can
    // both filter on `keep` and audit WHY a doc dropped (the operational
    // shape of the C4/Dolma/FineWeb rule filters). All four rules BIND on
    // the corpus (each excludes some docs at sf0.01). Comparisons stay
    // engine-exact: the ratios are divisions of exact integers (identical
    // doubles on both engines), and dup3 is pre-rounded at 6 dp.
    "q173_gopher_rules" -> ((s, d) => {
      // All four integer inputs from ONE pass over the document
      // (functions/TextProfile) instead of four expression-tree passes —
      // TextProfileSpec pins bit-equivalence to the HOF formulation.
      val nt   = col("__p.n_tokens")
      val awl  = (length(col("text")).cast("long") - (nt - 1)).cast("double") /
        nt.cast("double")
      val ttr  = round(col("__p.n_distinct_tokens").cast("double") / nt.cast("double"), 6)
      val dup3 = when(col("__p.n_grams") > 0,
        round((col("__p.n_grams") - col("__p.n_distinct_grams")).cast("double") /
          col("__p.n_grams").cast("double"), 6)).otherwise(lit(0.0))
      doc(s, d)
        .withColumn("__p", graft.functions.TextProfile(col("text"), 3))
        .select(
          col("doc_id"),
          nt.as("n_tokens"),
          (nt >= 25 && nt <= 75).as("r_len"),
          (awl >= 3.9 && awl <= 5.1).as("r_wordlen"),
          (ttr >= 0.4).as("r_ttr"),
          (dup3 <= 0.02).as("r_dup3"))
        .withColumn("keep",
          col("r_len") && col("r_wordlen") && col("r_ttr") && col("r_dup3"))
    }),
    // Zipf rank-frequency slope per source (log-log regression; ~-1 for
    // natural language) — the corpus-health diagnostic behind "is this
    // source machine-generated?" triage. Word counts and ranks are exact
    // integers; ln is libm → each point rounded 6 dp, and the regression
    // runs closed-form over sums that are themselves rounded 6 dp first,
    // so both engines compute the slope from identical bits (the
    // PageRank/k-means intermediate-rounding rule). One hash agg + one
    // |vocab|-per-source window — scales as a word-count job.
    "q174_zipf_slope" -> ((s, d) => {
      val words = doc(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
      val freq = words.groupBy("source", "word").agg(count(lit(1)).as("freq"))
      val lg = freq
        .withColumn("rnk", row_number().over(
          Window.partitionBy("source").orderBy(col("freq").desc, col("word").asc)))
        .select(col("source"),
          round(log(col("rnk").cast("double")), 6).as("lx"),
          round(log(col("freq").cast("double")), 6).as("ly"))
      lg.groupBy("source")
        .agg(count(lit(1)).cast("double").as("__n"),
          round(sum(col("lx")), 6).as("__sx"),
          round(sum(col("ly")), 6).as("__sy"),
          round(sum(col("lx") * col("lx")), 6).as("__sxx"),
          round(sum(col("lx") * col("ly")), 6).as("__sxy"))
        .select(col("source"),
          round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 4)
            .as("zipf_slope"))
    }),
    // Cross-source contamination matrix: pairwise Jaccard overlap of the
    // sources' distinct 3-gram sets — the decontamination diagnostic run
    // before mixing corpora (which source pairs share boilerplate?). The
    // gram-level self-join is postings-shaped (equi-join on gram; per-gram
    // fanout bounded by |sources|², not corpus size) and the size table is
    // a |sources|-row broadcast — both bounded at 100 TB. A df cap like
    // winnowing's maxDocFreq slots in unchanged if |sources| grows.
    "q175_source_overlap" -> ((s, d) => {
      val grams = doc(s, d)
        .select(col("source"), Text.tokens(col("text")).as("__toks"))
        .select(col("source"),
          explode(Text.ngramsFromTokens(col("__toks"), 3)).as("gram"))
        .distinct()
      val sizes = grams.groupBy("source").agg(count(lit(1)).as("sz"))
      grams.withColumnRenamed("source", "src_a")
        .join(grams.withColumnRenamed("source", "src_b"), Seq("gram"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("na"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("nb"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"),
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
    }),
    // Median/IQR robust scaling of the embedding corpus — q93's outlier-
    // insensitive twin (the sklearn RobustScaler shape). Same plan as q93:
    // the only shuffle is the |dims|-group stats agg; the fact side joins
    // the |dims|-row broadcast without moving. Exact `percentile` for
    // oracle parity; `graft.quantiles.exact=false` flips to the bounded-
    // memory percentile_approx sketch at 100 TB (the q12/q40 switch).
    // med/iqr pre-rounded 7 dp on both engines before the division.
    "q176_robust_scale" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          col("col").cast("double").as("x"))
      val stats = e.groupBy("dim").agg(
        round(Stats.quantileExpr(s, "x", 0.5), 7).as("med"),
        round(Stats.quantileExpr(s, "x", 0.75) - Stats.quantileExpr(s, "x", 0.25), 7)
          .as("iqr"))
      e.join(broadcast(stats), "dim")
        .select(col("vec_id"), col("dim"),
          round((col("x") - col("med")) / col("iqr"), 4).as("rz"))
    }),
    // Weighted sampling WITHOUT replacement, exactly k per source — the
    // Efraimidis–Spirakis (A-ES) reservoir: key = −ln(u)/w, keep the k
    // smallest keys (equivalent to u^(1/w) max-keep). q103's Bernoulli
    // twin keeps each doc independently; this one hits the quota exactly —
    // the "sample 1M docs proportional to quality" shape of training-mix
    // construction. u is the deterministic md5-uniform (q103 device)
    // shifted to (0,1] so ln never sees 0; w = n_chars (exact column).
    // Selection cuts on the ROUNDED key with a doc_id tie-break (the q156
    // device), so a 1-ulp libm ln divergence can never flip the kept set.
    // One shuffle on source; Spark plans the rank filter as a
    // WindowGroupLimit (per-partition top-k heaps, no full sort at scale).
    "q177_weighted_reservoir" -> ((s, d) => {
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") + lit(1.0)) / lit(4294967297.0)
      val key = round(-log(u) / col("n_chars").cast("double"), 8)
      doc(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"), key.as("sel_key"))
        .withColumn("sel_rank", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("sel_key").asc, col("doc_id").asc)))
        .filter(col("sel_rank") <= 5)
        // BIGINT rank like DuckDB's row_number (int32 vs int64 dtype parity)
        .withColumn("sel_rank", col("sel_rank").cast("long"))
    }),
    // BPE vocabulary induction, 3 merge rounds (text/Bpe.scala): the
    // tokenizer-training first stage. Corpus-scale work is ONE word-freq
    // hash agg; every round then runs on the |vocab|-row table with a
    // 1-row broadcast best pair — the production BPE-trainer shape. The
    // oracle unrolls all three rounds with the same double-replace merge
    // (replace is left-to-right non-overlapping in BOTH engines; BpeSpec
    // pins the parity vector).
    "q178_bpe_merges" -> ((s, d) =>
      graft.text.Bpe.merges(doc(s, d), "text", rounds = 3)),
    // The encode side of q178: corpus word/BPE-token totals per source
    // under the trained (3-merge) tokenizer — the "how many tokens is my
    // corpus" accounting every training run starts with. The trained
    // tokenizer is a |vocab|-row word→length broadcast; the corpus side
    // explodes words and never shuffles before the per-source agg.
    "q179_bpe_encode" -> ((s, d) => {
      val lens = graft.text.Bpe.encodedLengths(doc(s, d), "text", rounds = 3)
      doc(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(lens), Seq("w"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"), sum(col("bpe_tokens")).as("n_bpe_tokens"))
    }),
    // Per-source unigram KL divergence from the corpus-wide distribution —
    // the source-drift screen run before mixing (q146's PSI for word
    // distributions; KL(P_src ‖ P_corpus)). Probabilities are exact
    // integer ratios; every source word exists corpus-wide so q > 0 by
    // construction; ln is libm → the per-source sum rounds 4 dp. Two hash
    // aggs + a postings-shaped word join + a |sources|-row and a 1-row
    // broadcast.
    "q180_source_kl" -> ((s, d) => {
      val words = doc(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
      val sc = words.groupBy("source", "word").agg(count(lit(1)).as("c"))
      val st = words.groupBy("source").agg(count(lit(1)).as("nt"))
      val gc = words.groupBy("word").agg(count(lit(1)).as("g"))
      val gt = words.agg(count(lit(1)).as("gtot"))
      sc.join(gc, Seq("word"))
        .join(broadcast(st), Seq("source"))
        .crossJoin(broadcast(gt))
        .select(col("source"),
          (col("c").cast("double") / col("nt").cast("double")).as("p"),
          (col("g").cast("double") / col("gtot").cast("double")).as("q"))
        .groupBy("source")
        .agg(round(sum(col("p") * log(col("p") / col("q"))), 4).as("kl"))
    }),
    // Pairwise cosine similarity of per-source embedding centroids — the
    // "are these sources semantically redundant?" mixing diagnostic.
    // vec_id ≡ doc_id (driver alignment, the q108 linkage); centroids are
    // per-dim means ROUNDED 6 dp on both engines (the q73 IVF centroid
    // rule) so the exact-fold cosine (DotProductD/NormD ≡ the q27 oracle
    // folds) runs on identical bits. |sources|² pair space — bounded.
    "q181_source_centroid_sim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .join(doc(s, d).select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
        .select(col("source"), posexplode(col("embedding")))
        .select(col("source"), col("pos"), col("col").cast("double").as("x"))
      val cent = e.groupBy("source", "pos").agg(round(avg("x"), 6).as("m"))
        .groupBy("source").agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .getField("m").as("v"))
      val a = cent.select(col("source").as("src_a"), col("v").as("va"))
      val b = cent.select(col("source").as("src_b"), col("v").as("vb"))
      a.crossJoin(b).filter(col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          round(graft.functions.DotProductD(col("va"), col("vb")) /
            (graft.functions.NormD(col("va")) * graft.functions.NormD(col("vb"))), 6)
            .as("cos_sim"))
    }),
    // Cross-document repeated spans (ExactSubstr-lite, Lee et al. 2022):
    // positional 5-gram postings → globally-duplicated grams → per-doc
    // gaps-and-islands span merge. Linear in corpus size — no doc pairs
    // ever materialize (see dedup/RepeatedSpans).
    "q182_repeated_spans" -> ((s, d) =>
      graft.dedup.RepeatedSpans.perDoc(doc(s, d), "text", "doc_id",
        k = 5, minDocs = 2))
  )

  val oracle: Map[String, String] = Map(
    // Same length-band prefilter + identical classic-DP levenshtein.
    "q142_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        | ON a.p_name < b.p_name
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    // GROUPING() is BIGINT in DuckDB; Spark's grouping() cast to match.
    "q143_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
        | count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    // Same bounded-frame list + index lambda (DuckDB i is 1-based, so the
    // exponent is len-i vs Spark's size-1-i over 0-based). 0.75^k exact;
    // the ratio rounded 4 dp.
    "q144_ewma" ->
      """WITH f AS (
        | SELECT event_id, user_id,
        |  list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS frame
        | FROM events)
        |SELECT event_id, user_id,
        | round(
        |  list_sum(list_transform(frame, (x, i) ->
        |    x * pow(0.75, len(frame) - i))) /
        |  list_sum(list_transform(frame, (x, i) ->
        |    pow(0.75, len(frame) - i))), 4) AS ewma
        |FROM f""".stripMargin,
    // Same sufficient-statistics pivot; all derived scalars rounded 4 dp
    // (double sums are order-dependent).
    "q145_welch_ttest" ->
      """WITH g AS (
        | SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |  sum(value) AS s1, sum(value * value) AS s2
        | FROM events WHERE event_type IN ('click', 'purchase')
        | GROUP BY event_type),
        |p AS (
        | SELECT
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n1,
        |  max(CASE WHEN event_type = 'click' THEN s1 END) AS a1,
        |  max(CASE WHEN event_type = 'click' THEN s2 END) AS b1,
        |  max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
        |  max(CASE WHEN event_type = 'purchase' THEN s1 END) AS a2,
        |  max(CASE WHEN event_type = 'purchase' THEN s2 END) AS b2
        | FROM g),
        |m AS (
        | SELECT n1, n2, a1 / n1 AS m1, a2 / n2 AS m2,
        |  (b1 - n1 * (a1 / n1) * (a1 / n1)) / (n1 - 1.0) AS v1,
        |  (b2 - n2 * (a2 / n2) * (a2 / n2)) / (n2 - 1.0) AS v2
        | FROM p)
        |SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
        | round(m1, 4) AS mean_click, round(m2, 4) AS mean_purchase,
        | round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
        | round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
        |   ((v1 / n1) * (v1 / n1) / (n1 - 1.0)
        |     + (v2 / n2) * (v2 / n2) / (n2 - 1.0)), 4) AS welch_df
        |FROM m""".stripMargin,
    // Same reference-extent equal-width bins + Laplace smoothing; integer
    // ratios into ln → the product rounded (6 dp).
    "q146_psi" ->
      """WITH ref AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 0),
        |cur AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 1),
        |b AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM ref),
        |tot AS (SELECT (SELECT count(*) FROM ref) AS nr,
        |               (SELECT count(*) FROM cur) AS nc),
        |rb AS (
        | SELECT CAST(least(9, greatest(0,
        |   floor((n_chars - lo) * 10 / (hi - lo + 1)))) AS BIGINT) AS bin,
        |  count(*) AS cnt_ref
        | FROM ref, b GROUP BY 1),
        |cb AS (
        | SELECT CAST(least(9, greatest(0,
        |   floor((n_chars - lo) * 10 / (hi - lo + 1)))) AS BIGINT) AS bin,
        |  count(*) AS cnt_cur
        | FROM cur, b GROUP BY 1),
        |j AS (
        | SELECT g.bin,
        |  CAST(coalesce(cnt_ref, 0) AS BIGINT) AS cnt_ref,
        |  CAST(coalesce(cnt_cur, 0) AS BIGINT) AS cnt_cur, nr, nc
        | FROM generate_series(0, 9) g(bin)
        | LEFT JOIN rb ON g.bin = rb.bin
        | LEFT JOIN cb ON g.bin = cb.bin, tot)
        |SELECT bin, cnt_ref, cnt_cur,
        | round((CAST(cnt_ref + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE)
        |      - CAST(cnt_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
        |  * ln((CAST(cnt_ref + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
        |     / (CAST(cnt_cur + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))), 6)
        |  AS psi_term
        |FROM j""".stripMargin,
    // All-integer replay of the degree-oriented scheme: same (deg, id)
    // total order, same one-wedge-per-triangle invariant.
    "q147_triangles" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        | SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        | GROUP BY node),
        |o AS (
        | SELECT
        |  CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
        |   THEN u ELSE v END AS src,
        |  CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
        |   THEN v ELSE u END AS dst
        | FROM e JOIN deg d1 ON e.u = d1.node JOIN deg d2 ON e.v = d2.node),
        |orr AS (SELECT o.src, o.dst, deg.deg AS ddst
        |        FROM o JOIN deg ON o.dst = deg.node),
        |w AS (
        | SELECT a.src, a.dst AS w1, b.dst AS w2
        | FROM orr a JOIN orr b ON a.src = b.src
        | WHERE a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst)),
        |t AS (
        | SELECT * FROM w
        | WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.w1 AND o.dst = w.w2))
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        | (SELECT count(*) FROM e) AS n_edges,
        | (SELECT count(*) FROM w) AS n_wedges,
        | (SELECT count(*) FROM t) AS n_triangles""".stripMargin,
    // The naive single-window ECDF replay; the distributed prefix sums must
    // reproduce it bit-for-bit (integer-ratio doubles, no rounding).
    "q148_ks_test" ->
      """WITH g AS (
        | SELECT value,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n1v,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n2v
        | FROM events WHERE event_type IN ('click', 'view')
        | GROUP BY value),
        |c AS (
        | SELECT value,
        |  CAST(sum(n1v) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum1,
        |  CAST(sum(n2v) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum2
        | FROM g),
        |tot AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1,
        |               CAST(sum(n2v) AS BIGINT) AS n2 FROM g)
        |SELECT n1 AS n_click, n2 AS n_view,
        | abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2) AS d_stat,
        | value AS at_value
        |FROM c, tot
        |ORDER BY d_stat DESC, value LIMIT 1""".stripMargin,
    // The bloom stage is semantically transparent (false positives die in
    // the exact semi-join), so the oracle is the plain semi-join + agg.
    "q149_bloom_join" ->
      """SELECT l_suppkey, count(*) AS cnt,
        | round(sum(l_extendedprice), 4) AS revenue
        |FROM lineitem
        |WHERE l_suppkey IN
        | (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
        |GROUP BY l_suppkey""".stripMargin,
    // Same shift-zip bigrams (DuckDB 1-based slices), same log-space PMI.
    "q150_bigram_pmi" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (
        | SELECT w, count(*) AS cw FROM (SELECT unnest(t) AS w FROM tk)
        | GROUP BY w),
        |bg AS (
        | SELECT bg[1] AS w1, bg[2] AS w2 FROM (
        |  SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS bg
        |  FROM tk)),
        |bigc AS (
        | SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY w1, w2
        | HAVING count(*) >= 5),
        |tot AS (
        | SELECT (SELECT CAST(sum(cw) AS BIGINT) FROM uni) AS nt,
        |        (SELECT count(*) FROM bg) AS nb)
        |SELECT w1, w2, cxy,
        | round(ln(cxy) + 2.0 * ln(nt) - ln(nb) - ln(cx) - ln(cy), 4) AS pmi
        |FROM bigc
        |JOIN (SELECT w AS w1, cw AS cx FROM uni) USING (w1)
        |JOIN (SELECT w AS w2, cw AS cy FROM uni) USING (w2)
        |, tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,
    // Same md5-hex gap device, same ignoreNulls carry; carried values are
    // untouched doubles so the compare is exact.
    "q151_locf" ->
      """WITH s AS (
        | SELECT event_id, user_id, ts,
        |  CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
        |        IN ('0','1','2','3') THEN NULL ELSE value END AS v
        | FROM events)
        |SELECT event_id, user_id,
        | CAST(v IS NULL AS BIGINT) AS was_gap,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM s""".stripMargin,
    // Same windowed sufficient statistics; z rounded 4 dp.
    "q152_rolling_zscore" ->
      """WITH w AS (
        | SELECT event_id, user_id, value,
        |  count(value) OVER win AS n_win,
        |  sum(value) OVER win AS s1,
        |  sum(value * value) OVER win AS s2
        | FROM events
        | WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING)),
        |m AS (
        | SELECT event_id, user_id, value, n_win,
        |  s1 / n_win AS mu,
        |  (s2 - n_win * (s1 / n_win) * (s1 / n_win)) / (n_win - 1) AS v
        | FROM w)
        |SELECT event_id, user_id, n_win,
        | CASE WHEN n_win >= 8 AND v > 0
        |  THEN round((value - mu) / sqrt(v), 4) END AS zscore
        |FROM m""".stripMargin,
    // True components of the lev<=2 graph via recursive CTE (the q124
    // min-label shape on string ids).
    "q153_entity_resolution" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
        |pairs AS (
        | SELECT a.p_name AS ia, b.p_name AS ib
        | FROM n a JOIN n b ON a.p_name < b.p_name
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        | WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |e AS (SELECT ia AS a, ib AS b FROM pairs
        |      UNION ALL SELECT ib, ia FROM pairs),
        |cc(node, label) AS (
        | SELECT p_name, p_name FROM n
        | UNION
        | SELECT e.a, cc.label FROM e JOIN cc ON cc.node = e.b
        | WHERE cc.label < e.a),
        |lab AS (SELECT node, min(label) AS canonical FROM cc GROUP BY node)
        |SELECT node AS name, canonical,
        | CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
        |   AS cluster_size
        |FROM lab""".stripMargin,
    // Naive-window replay of the prefix sums; cent-integer weights so the
    // threshold comparisons are exact on both engines.
    "q154_weighted_median" ->
      """WITH g AS (
        | SELECT l_quantity,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS wv
        | FROM lineitem GROUP BY l_quantity),
        |c AS (
        | SELECT l_quantity,
        |  CAST(sum(wv) OVER (ORDER BY l_quantity ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_w
        | FROM g),
        |tot AS (SELECT CAST(sum(wv) AS BIGINT) AS tw FROM g)
        |SELECT
        | (SELECT min(l_quantity) FROM c, tot WHERE cum_w * 4 >= tw) AS w_p25,
        | (SELECT min(l_quantity) FROM c, tot WHERE cum_w * 2 >= tw) AS w_median,
        | (SELECT min(l_quantity) FROM c, tot WHERE cum_w * 4 >= tw * 3) AS w_p75""".stripMargin,
    // Same simulated snapshots; hash EQUALITY is engine-internal (double
    // formatting differs across engines but stays injective within each),
    // so only the status counts surface — and those are exact.
    "q155_snapshot_diff" ->
      """WITH o AS (
        | SELECT event_id AS o_id,
        |  md5(concat_ws('|', event_type, CAST(value AS VARCHAR))) AS o_h
        | FROM events WHERE event_id % 4 <> 0),
        |n AS (
        | SELECT event_id AS n_id,
        |  md5(concat_ws('|', event_type, CAST(
        |    CASE WHEN event_id % 7 = 0 THEN value + 1.0 ELSE value END
        |    AS VARCHAR))) AS n_h
        | FROM events WHERE event_id % 5 <> 0)
        |SELECT status, count(*) AS cnt FROM (
        | SELECT CASE WHEN o_id IS NULL THEN 'added'
        |             WHEN n_id IS NULL THEN 'removed'
        |             WHEN o_h <> n_h THEN 'changed'
        |             ELSE 'unchanged' END AS status
        | FROM o FULL JOIN n ON o_id = n_id)
        |GROUP BY status""".stripMargin,
    // DuckDB's native jaro_winkler_similarity replays the custom
    // expression (same windowing, integer t/2, 0.7-thresholded boost);
    // both sides cut on the 4-dp-rounded score.
    "q156_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
        |FROM n a JOIN n b
        | ON a.p_name < b.p_name
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.9""".stripMargin,
    // The stream's state machine must reproduce the batch window exactly
    // — same oracle as q152.
    "q157_stream_zscore" ->
      """WITH w AS (
        | SELECT event_id, user_id, value,
        |  count(value) OVER win AS n_win,
        |  sum(value) OVER win AS s1,
        |  sum(value * value) OVER win AS s2
        | FROM events
        | WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING)),
        |m AS (
        | SELECT event_id, user_id, value, n_win,
        |  s1 / n_win AS mu,
        |  (s2 - n_win * (s1 / n_win) * (s1 / n_win)) / (n_win - 1) AS v
        | FROM w)
        |SELECT event_id, user_id, n_win,
        | CASE WHEN n_win >= 8 AND v > 0
        |  THEN round((value - mu) / sqrt(v), 4) END AS zscore
        |FROM m""".stripMargin,
    // Full CTE replay: integer-ratio lns summed in the same order, argmax
    // on the rounded score with the same tie rule.
    "q158_naive_bayes" ->
      """WITH tr0 AS (SELECT * FROM events WHERE event_id % 10 < 8),
        |te0 AS (SELECT * FROM events WHERE event_id % 10 >= 8),
        |bnd AS (SELECT min(value) AS lo, max(value) AS hi FROM tr0),
        |tr AS (
        | SELECT event_id, event_type, CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(least(9, greatest(0,
        |    floor((value - lo) * 10 / (hi - lo)))) AS BIGINT) AS b
        | FROM tr0, bnd),
        |te AS (
        | SELECT event_id, event_type, CAST(hour(ts) AS BIGINT) AS h,
        |  CAST(least(9, greatest(0,
        |    floor((value - lo) * 10 / (hi - lo)))) AS BIGINT) AS b
        | FROM te0, bnd),
        |cls AS (SELECT event_type AS cls, count(*) AS n_c FROM tr GROUP BY 1),
        |scal AS (SELECT (SELECT count(*) FROM tr) AS n,
        |  (SELECT count(DISTINCT h) FROM tr) AS v1,
        |  (SELECT count(DISTINCT b) FROM tr) AS v2,
        |  (SELECT count(*) FROM cls) AS k),
        |f1 AS (SELECT event_type AS cls, h, count(*) AS c1 FROM tr GROUP BY 1, 2),
        |f2 AS (SELECT event_type AS cls, b, count(*) AS c2 FROM tr GROUP BY 1, 2),
        |sc AS (
        | SELECT te.event_id, te.event_type, cls.cls,
        |  round(ln(CAST(n_c + 1 AS DOUBLE) / CAST(n + k AS DOUBLE))
        |   + ln(CAST(coalesce(c1, 0) + 1 AS DOUBLE) / CAST(n_c + v1 AS DOUBLE))
        |   + ln(CAST(coalesce(c2, 0) + 1 AS DOUBLE) / CAST(n_c + v2 AS DOUBLE)),
        |   4) AS score
        | FROM te CROSS JOIN cls
        | LEFT JOIN f1 ON f1.cls = cls.cls AND f1.h = te.h
        | LEFT JOIN f2 ON f2.cls = cls.cls AND f2.b = te.b
        | CROSS JOIN scal),
        |pick AS (
        | SELECT event_id, event_type, cls, row_number() OVER (
        |   PARTITION BY event_id ORDER BY score DESC, cls) AS rn
        | FROM sc)
        |SELECT event_type AS actual, cls AS predicted, count(*) AS cnt
        |FROM pick WHERE rn = 1 GROUP BY 1, 2""".stripMargin,
    // Two unrolled synchronous rounds — all-integer, no rounding needed.
    "q159_label_prop" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u AS src, v AS dst FROM p
        |      UNION ALL SELECT v AS src, u AS dst FROM p),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |r1 AS (
        | SELECT e.src, l0.label, count(*) AS c
        | FROM e JOIN l0 ON l0.node = e.dst GROUP BY 1, 2),
        |l1 AS (
        | SELECT src AS node, label FROM (
        |  SELECT src, label, row_number() OVER (
        |    PARTITION BY src ORDER BY c DESC, label) AS rn FROM r1)
        | WHERE rn = 1),
        |r2 AS (
        | SELECT e.src, l1.label, count(*) AS c
        | FROM e JOIN l1 ON l1.node = e.dst GROUP BY 1, 2),
        |l2 AS (
        | SELECT src AS node, label FROM (
        |  SELECT src, label, row_number() OVER (
        |    PARTITION BY src ORDER BY c DESC, label) AS rn FROM r2)
        | WHERE rn = 1)
        |SELECT node, label,
        | CAST(count(*) OVER (PARTITION BY label) AS BIGINT)
        |   AS community_size
        |FROM l2""".stripMargin,
    // Same md5-uniform → identical Poisson(1) inverse-CDF thresholds;
    // the resample means rounded 4 dp.
    "q160_poisson_bootstrap" ->
      """WITH x AS (
        | SELECT value, b,
        |  CAST(CAST(concat('0x', substr(md5(concat(
        |    CAST(event_id AS VARCHAR), '_', CAST(b AS VARCHAR))), 1, 8))
        |    AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        | FROM events, generate_series(0, 31) g(b)),
        |wts AS (
        | SELECT value, b,
        |  CASE WHEN u < 0.36787944117144233 THEN 0
        |       WHEN u < 0.7357588823428847 THEN 1
        |       WHEN u < 0.9196986029286058 THEN 2
        |       WHEN u < 0.9810118431238462 THEN 3
        |       WHEN u < 0.9963401531726563 THEN 4
        |       ELSE 5 END AS w
        | FROM x)
        |SELECT b, round(sum(w * value) / CAST(sum(w) AS BIGINT), 4)
        |  AS boot_mean
        |FROM wts GROUP BY b""".stripMargin,
    // Two unrolled peel rounds, all-integer.
    "q161_kcore" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT u AS src, v AS dst FROM p
        |       UNION ALL SELECT v AS src, u AS dst FROM p),
        |k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
        |e1 AS (
        | SELECT e0.src, e0.dst FROM e0
        | WHERE e0.src IN (SELECT src FROM k1)
        |   AND e0.dst IN (SELECT src FROM k1)),
        |k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3),
        |e2 AS (
        | SELECT e1.src, e1.dst FROM e1
        | WHERE e1.src IN (SELECT src FROM k2)
        |   AND e1.dst IN (SELECT src FROM k2))
        |SELECT src AS node, count(*) AS deg FROM e2 GROUP BY 1""".stripMargin,
    // Three unrolled min-relax rounds, all-integer.
    "q162_bfs_hops" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u AS src, v AS dst FROM p
        |      UNION ALL SELECT v AS src, u AS dst FROM p),
        |l0 AS (
        | SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS hop FROM e
        | WHERE src % 100 = 0),
        |l1 AS (
        | SELECT node, min(hop) AS hop FROM (
        |  SELECT node, hop FROM l0
        |  UNION ALL
        |  SELECT e.src AS node, l0.hop + 1 AS hop
        |  FROM e JOIN l0 ON l0.node = e.dst) GROUP BY 1),
        |l2 AS (
        | SELECT node, min(hop) AS hop FROM (
        |  SELECT node, hop FROM l1
        |  UNION ALL
        |  SELECT e.src AS node, l1.hop + 1 AS hop
        |  FROM e JOIN l1 ON l1.node = e.dst) GROUP BY 1),
        |l3 AS (
        | SELECT node, min(hop) AS hop FROM (
        |  SELECT node, hop FROM l2
        |  UNION ALL
        |  SELECT e.src AS node, l2.hop + 1 AS hop
        |  FROM e JOIN l2 ON l2.node = e.dst) GROUP BY 1)
        |SELECT node, hop FROM l3""".stripMargin,
    // lead() over the same (ts, event_id) total order; the row
    // normalizer is CAST at the window per the HUGEINT parity rule.
    "q163_markov_transitions" ->
      """WITH t AS (
        | SELECT event_type AS from_type,
        |  lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        | FROM events),
        |c AS (
        | SELECT from_type, to_type, count(*) AS cnt FROM t
        | WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        | round(CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY from_type) AS BIGINT), 4) AS prob
        |FROM c""".stripMargin,
    // Same integer leading-digit device; ln-based expectation rounded
    // 4 dp on both sides.
    "q164_benford" ->
      """WITH m AS (
        | SELECT CAST(round(abs(value) * 1e6) AS BIGINT) AS m FROM events),
        |d AS (
        | SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |  count(*) AS obs
        | FROM m WHERE m > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM d)
        |SELECT digit, obs,
        | round(n * ln(1.0 + 1.0 / digit) / ln(10.0), 4) AS expected,
        | round(pow(CAST(obs AS DOUBLE)
        |     - n * ln(1.0 + 1.0 / digit) / ln(10.0), 2)
        |   / (n * ln(1.0 + 1.0 / digit) / ln(10.0)), 4) AS chi2_term
        |FROM d, tot""".stripMargin,
    // Same (x, orderkey) rank order; the rank-weighted double sum is
    // rounded 4 dp on both sides.
    "q165_gini" ->
      """WITH o AS (
        | SELECT c_mktsegment AS segment, o_totalprice AS x, o_orderkey
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (
        | SELECT segment, x, row_number() OVER (
        |   PARTITION BY segment ORDER BY x, o_orderkey) AS i
        | FROM o)
        |SELECT segment, count(*) AS n,
        | round((2 * sum(i * x) - (count(*) + 1) * sum(x))
        |   / (count(*) * sum(x)), 4) AS gini
        |FROM r GROUP BY 1""".stripMargin,
    // Same zero-factor flag (DuckDB would tolerate ln(0) = -inf but the
    // CASE keeps both engines off the ln(0) path); cumulative ln sums run
    // in the same ascending-t order.
    "q166_kaplan_meier" ->
      """WITH spans AS (
        | SELECT user_id, date_diff('day', CAST(min(ts) AS DATE),
        |   CAST(max(ts) AS DATE)) AS t
        | FROM events GROUP BY 1),
        |dt AS (SELECT t, count(*) AS d FROM spans GROUP BY 1),
        |tot AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM dt),
        |base AS (
        | SELECT t, d,
        |  n - coalesce(CAST(sum(d) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
        | FROM dt, tot),
        |f AS (
        | SELECT t, d, n_risk,
        |  max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
        |    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS dead,
        |  sum(CASE WHEN d = n_risk THEN NULL
        |      ELSE ln(1.0 - CAST(d AS DOUBLE) / n_risk) END) OVER (
        |    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS lnsum
        | FROM base)
        |SELECT t, d, n_risk,
        | CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lnsum), 4) END AS surv
        |FROM f""".stripMargin,
    // Integer epoch-day lag join; Pearson inputs are exact integer sums
    // (CAST to BIGINT before the double math) — bit-deterministic, no
    // rounding seam.
    "q167_acf" ->
      """WITH daily AS (
        | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS c
        | FROM events GROUP BY 1),
        |pairs AS (
        | SELECT g.lag AS lag, a.c AS x, b.c AS y
        | FROM daily a CROSS JOIN generate_series(1, 7) g(lag)
        | JOIN daily b ON b.day = a.day + g.lag),
        |agg AS (
        | SELECT lag, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sx2,
        |  CAST(sum(y * y) AS BIGINT) AS sy2
        | FROM pairs GROUP BY 1)
        |SELECT lag, n,
        | CAST(n * sxy - sx * sy AS DOUBLE)
        |   / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
        |     * CAST(n * sy2 - sy * sy AS DOUBLE)) AS acf
        |FROM agg""".stripMargin,
    // Same apriori prune (every 2-subset frequent) over distinct-order
    // baskets; all-integer.
    "q168_freq_triples" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |po AS (
        | SELECT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
        | FROM bk a JOIN bk b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |p2 AS (
        | SELECT u, v FROM po GROUP BY u, v HAVING count(*) >= 2),
        |t0 AS (
        | SELECT po.l_orderkey, po.u, po.v FROM po
        | JOIN p2 ON p2.u = po.u AND p2.v = po.v),
        |cand AS (
        | SELECT t0.u, t0.v, c.l_partkey AS w
        | FROM t0 JOIN bk c ON c.l_orderkey = t0.l_orderkey
        |  AND c.l_partkey > t0.v
        | WHERE EXISTS (SELECT 1 FROM p2 WHERE p2.u = t0.u
        |    AND p2.v = c.l_partkey)
        |  AND EXISTS (SELECT 1 FROM p2 WHERE p2.u = t0.v
        |    AND p2.v = c.l_partkey))
        |SELECT u, v, w, count(*) AS support
        |FROM cand GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin,
    // Same integer supports; conf/lift division shapes mirror the Spark
    // column expressions exactly.
    "q169_lift_rules" ->
      """WITH bk AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS nn FROM bk),
        |isup AS (SELECT l_partkey AS item, count(*) AS s FROM bk GROUP BY 1),
        |p2 AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS pair_sup
        | FROM bk a JOIN bk b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |rules AS (
        | SELECT u AS antecedent, v AS consequent, pair_sup FROM p2
        | UNION ALL
        | SELECT v AS antecedent, u AS consequent, pair_sup FROM p2)
        |SELECT antecedent, consequent, pair_sup,
        | round(CAST(pair_sup AS DOUBLE) / sa.s, 4) AS conf,
        | round(CAST(pair_sup AS DOUBLE) * nn / (sa.s * sc.s), 4) AS lift
        |FROM rules
        |JOIN isup sa ON sa.item = antecedent
        |JOIN isup sc ON sc.item = consequent
        |CROSS JOIN n""".stripMargin,
    // Same integer month index; revenue rounded 4 dp.
    "q170_cohort_revenue" ->
      """WITH f AS (
        | SELECT o_custkey, min(o_orderdate) AS f FROM orders GROUP BY 1)
        |SELECT
        | CAST(year(f.f) * 100 + month(f.f) AS BIGINT) AS cohort,
        | CAST((year(o_orderdate) * 12 + month(o_orderdate))
        |   - (year(f.f) * 12 + month(f.f)) AS BIGINT) AS age,
        | count(DISTINCT o_custkey) AS customers,
        | round(sum(o_totalprice), 4) AS revenue
        |FROM orders JOIN f USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin,
    // Same Σq²/T² integer identity: exact BIGINT sums, one final double
    // division — no order-dependent double accumulation on either side.
    "q171_hhi" ->
      """WITH qs AS (
        | SELECT l_partkey,
        |  CAST(round(round(sum(l_quantity), 4) * 10000) AS BIGINT) AS qs
        | FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT l_partkey, count(*) AS n_suppliers,
        | round(CAST(sum(qs * qs) AS BIGINT)
        |   / (CAST(sum(qs) AS BIGINT) * 1.0 * CAST(sum(qs) AS BIGINT)), 4)
        |   AS hhi
        |FROM qs GROUP BY 1""".stripMargin,
    // Same ascending-day cumulative order; argmax on the rounded
    // statistic with the day tie-break.
    "q172_cusum" ->
      """WITH daily AS (
        | SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS c
        | FROM events GROUP BY 1),
        |st AS (SELECT CAST(sum(c) AS BIGINT) AS s, count(*) AS dd FROM daily),
        |dev AS (
        | SELECT day, CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / dd AS dev
        | FROM daily, st),
        |cs AS (
        | SELECT day, sum(CAST(dev AS DOUBLE)) OVER (
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS cusum
        | FROM dev)
        |SELECT day, round(cusum, 4) AS cusum FROM cs
        |ORDER BY round(abs(cusum), 4) DESC, day LIMIT 1""".stripMargin,
    // Integer-ratio comparisons replay exactly (same doubles both
    // engines); dup3 is pre-rounded 6 dp like the Spark side.
    "q173_gopher_rules" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
        | FROM documents),
        |g AS (
        | SELECT doc_id, nt, nc, toks,
        |  CASE WHEN len(toks) >= 3
        |   THEN list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))
        |   ELSE [] END AS grams
        | FROM t),
        |r AS (
        | SELECT doc_id, nt AS n_tokens,
        |  nt >= 25 AND nt <= 75 AS r_len,
        |  CAST(nc - (nt - 1) AS DOUBLE) / nt >= 3.9
        |   AND CAST(nc - (nt - 1) AS DOUBLE) / nt <= 5.1 AS r_wordlen,
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / nt, 6) >= 0.4 AS r_ttr,
        |  (CASE WHEN len(grams) > 0
        |    THEN round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
        |           / len(grams), 6)
        |    ELSE 0.0 END) <= 0.02 AS r_dup3
        | FROM g)
        |SELECT doc_id, n_tokens, r_len, r_wordlen, r_ttr, r_dup3,
        | r_len AND r_wordlen AND r_ttr AND r_dup3 AS keep
        |FROM r""".stripMargin,
    // Same 6-dp ln points and 6-dp pre-rounded sums; the slope is then a
    // closed form over identical bits on both engines.
    "q174_zipf_slope" ->
      """WITH w AS (
        | SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT source, word, count(*) AS freq FROM w GROUP BY 1, 2),
        |r AS (
        | SELECT source, freq, row_number() OVER (
        |   PARTITION BY source ORDER BY freq DESC, word) AS rnk
        | FROM f),
        |l AS (
        | SELECT source, round(ln(CAST(rnk AS DOUBLE)), 6) AS lx,
        |  round(ln(CAST(freq AS DOUBLE)), 6) AS ly
        | FROM r),
        |a AS (
        | SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |  round(sum(lx), 6) AS sx, round(sum(ly), 6) AS sy,
        |  round(sum(lx * lx), 6) AS sxx, round(sum(lx * ly), 6) AS sxy
        | FROM l GROUP BY 1)
        |SELECT source,
        | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
        |FROM a""".stripMargin,
    // Distinct gram sets per source; intersection via the gram equi-join,
    // union by inclusion-exclusion. Counts CAST to BIGINT per house rule.
    "q175_source_overlap" ->
      """WITH t AS (
        | SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT DISTINCT source, unnest(CASE WHEN len(toks) >= 3
        |   THEN list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))
        |   ELSE [] END) AS gram
        | FROM t),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1),
        |iv AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS inter
        | FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT src_a, src_b, inter,
        | round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 6) AS jaccard
        |FROM iv
        |JOIN sz na ON iv.src_a = na.source
        |JOIN sz nb ON iv.src_b = nb.source""".stripMargin,
    // quantile_cont matches Spark's exact `percentile` interpolation (the
    // q12 parity precedent); med/iqr pre-rounded 7 dp before the division.
    // `+ 0.0` canonicalizes DuckDB's signed zero: a tiny negative (x-med)
    // rounds to -0.0 in DuckDB (IEEE sign preserved) but to +0.0 in Spark
    // (BigDecimal HALF_UP has no signed zero) — bitwise-different under the
    // driver's hash. Manifested at sf0.001 (vec 56, dim 48); adding +0.0
    // maps -0.0 → +0.0 and is the identity on every other value.
    "q176_robust_scale" ->
      """WITH e AS (
        | SELECT vec_id, CAST(d.i AS BIGINT) AS dim,
        |  CAST(embedding[d.i] AS DOUBLE) AS x
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS i) d),
        |s AS (
        | SELECT dim, round(quantile_cont(x, 0.5), 7) AS med,
        |  round(quantile_cont(x, 0.75) - quantile_cont(x, 0.25), 7) AS iqr
        | FROM e GROUP BY dim)
        |SELECT vec_id, dim, round((x - med) / iqr, 4) + 0.0 AS rz
        |FROM e JOIN s USING (dim)""".stripMargin,
    // Same md5-uniform shifted to (0,1]; the kept set cuts on the ROUNDED
    // key with the doc_id tie-break, so libm ln parity is not load-bearing.
    "q177_weighted_reservoir" ->
      """WITH k AS (
        | SELECT source, doc_id, n_chars,
        |  round(-ln((CAST(CAST(concat('0x',
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      AS DOUBLE) + 1.0) / 4294967297.0)
        |    / CAST(n_chars AS DOUBLE), 8) AS sel_key
        | FROM documents),
        |r AS (
        | SELECT source, doc_id, n_chars, sel_key,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY sel_key, doc_id) AS sel_rank
        | FROM k)
        |SELECT source, doc_id, n_chars, sel_key, sel_rank
        |FROM r WHERE sel_rank <= 5""".stripMargin,
    // Three unrolled merge rounds; chars via 1-based indexing (engines
    // disagree on empty-pattern splits), double-replace merge per round.
    "q178_bpe_merges" ->
      """WITH wf AS (
        | SELECT w, count(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        | WHERE length(w) > 0 GROUP BY w),
        |s1 AS (
        | SELECT ' ' || array_to_string(
        |    list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
        |   || ' ' AS seq, freq
        | FROM wf),
        |p1 AS (
        | SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(CASE WHEN len(sym) >= 2
        |    THEN list_transform(range(1, len(sym)), i -> sym[i] || ' ' || sym[i+1])
        |    ELSE [] END) AS pair
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS sym FROM s1))
        | GROUP BY pair),
        |b1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |s2 AS (
        | SELECT replace(replace(seq,
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS seq,
        |  freq
        | FROM s1, b1 b),
        |p2 AS (
        | SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(CASE WHEN len(sym) >= 2
        |    THEN list_transform(range(1, len(sym)), i -> sym[i] || ' ' || sym[i+1])
        |    ELSE [] END) AS pair
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS sym FROM s2))
        | GROUP BY pair),
        |b2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |s3 AS (
        | SELECT replace(replace(seq,
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS seq,
        |  freq
        | FROM s2, b2 b),
        |p3 AS (
        | SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(CASE WHEN len(sym) >= 2
        |    THEN list_transform(range(1, len(sym)), i -> sym[i] || ' ' || sym[i+1])
        |    ELSE [] END) AS pair
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS sym FROM s3))
        | GROUP BY pair),
        |b3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, pair,
        |  replace(pair, ' ', '') AS merged, cnt FROM b1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), pair, replace(pair, ' ', ''), cnt FROM b2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), pair, replace(pair, ' ', ''), cnt FROM b3""".stripMargin,
    // q178's chain carried through the final merge (s4), then the corpus
    // word stream joins the |vocab|-row length table.
    "q179_bpe_encode" ->
      """WITH wf AS (
        | SELECT w, count(*) AS freq FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        | WHERE length(w) > 0 GROUP BY w),
        |s1 AS (
        | SELECT w, ' ' || array_to_string(
        |    list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
        |   || ' ' AS seq, freq
        | FROM wf),
        |p1 AS (
        | SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(CASE WHEN len(sym) >= 2
        |    THEN list_transform(range(1, len(sym)), i -> sym[i] || ' ' || sym[i+1])
        |    ELSE [] END) AS pair
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS sym FROM s1))
        | GROUP BY pair),
        |b1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
        |s2 AS (
        | SELECT w, replace(replace(seq,
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS seq,
        |  freq
        | FROM s1, b1 b),
        |p2 AS (
        | SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(CASE WHEN len(sym) >= 2
        |    THEN list_transform(range(1, len(sym)), i -> sym[i] || ' ' || sym[i+1])
        |    ELSE [] END) AS pair
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS sym FROM s2))
        | GROUP BY pair),
        |b2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
        |s3 AS (
        | SELECT w, replace(replace(seq,
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS seq,
        |  freq
        | FROM s2, b2 b),
        |p3 AS (
        | SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |  SELECT freq, unnest(CASE WHEN len(sym) >= 2
        |    THEN list_transform(range(1, len(sym)), i -> sym[i] || ' ' || sym[i+1])
        |    ELSE [] END) AS pair
        |  FROM (SELECT freq, string_split(trim(seq), ' ') AS sym FROM s3))
        | GROUP BY pair),
        |b3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
        |s4 AS (
        | SELECT w, replace(replace(seq,
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' '),
        |    ' ' || b.pair || ' ', ' ' || replace(b.pair, ' ', '') || ' ') AS seq,
        |  freq
        | FROM s3, b3 b),
        |lens AS (
        | SELECT w, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS bpe_tokens
        | FROM s4),
        |corpus AS (
        | SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum(bpe_tokens) AS BIGINT) AS n_bpe_tokens
        |FROM corpus JOIN lens USING (w)
        |WHERE length(w) > 0
        |GROUP BY source""".stripMargin,
    // Exact integer-ratio probabilities into ln (the q125/q146 rule),
    // per-source sum rounded 4 dp.
    "q180_source_kl" ->
      """WITH w AS (
        | SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |sc AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2),
        |st AS (SELECT source, count(*) AS nt FROM w GROUP BY 1),
        |gc AS (SELECT word, count(*) AS g FROM w GROUP BY 1),
        |gt AS (SELECT count(*) AS gtot FROM w)
        |SELECT source,
        | round(sum((CAST(c AS DOUBLE) / nt)
        |   * ln((CAST(c AS DOUBLE) / nt) / (CAST(g AS DOUBLE) / gtot))), 4) AS kl
        |FROM sc JOIN gc USING (word) JOIN st USING (source), gt
        |GROUP BY source""".stripMargin,
    // Centroid means rounded 6 dp (q73 rule); the cosine folds are the
    // q27 parity shapes. vec_id ≡ doc_id is the q108 linkage.
    "q181_source_centroid_sim" ->
      """WITH e AS (
        | SELECT d.source, i.i AS pos, CAST(em.embedding[i.i] AS DOUBLE) AS x
        | FROM embeddings em
        | JOIN documents d ON em.vec_id = d.doc_id,
        |  (SELECT unnest(range(1, 65)) AS i) i),
        |c AS (SELECT source, pos, round(avg(x), 6) AS m FROM e GROUP BY 1, 2),
        |v AS (SELECT source, list(m ORDER BY pos) AS v FROM c GROUP BY 1)
        |SELECT a.source AS src_a, b.source AS src_b,
        | round(list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]),
        |    (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |   * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))),
        |  6) AS cos_sim
        |FROM v a JOIN v b ON a.source < b.source""".stripMargin,
    // Positional 5-grams via index-into-list (DuckDB's posexplode);
    // islands by the same pos − row_number device; counts CAST BIGINT.
    "q182_repeated_spans" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ng AS (
        | SELECT doc_id, len(toks) AS nt, CASE WHEN len(toks) >= 5
        |   THEN list_transform(range(1, len(toks) - 3),
        |          i -> array_to_string(toks[i:i+4], ' '))
        |   ELSE [] END AS grams
        | FROM t),
        |g AS (
        | SELECT doc_id, i AS pos, grams[i] AS gram
        | FROM ng, unnest(range(1, len(grams) + 1)) AS r(i)),
        |dup AS (
        | SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (
        | SELECT g.doc_id, g.pos,
        |  g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos)
        |    AS island
        | FROM g JOIN dup USING (gram)),
        |isl AS (
        | SELECT doc_id, island, count(*) AS ilen
        | FROM dp GROUP BY doc_id, island),
        |agg AS (
        | SELECT doc_id, CAST(sum(ilen) AS BIGINT) AS n_dup_grams,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(max(ilen) + 4 AS BIGINT) AS max_span_tokens
        | FROM isl GROUP BY doc_id)
        |SELECT ng.doc_id,
        | coalesce(n_dup_grams, 0) AS n_dup_grams,
        | coalesce(n_spans, 0) AS n_spans,
        | coalesce(max_span_tokens, 0) AS max_span_tokens,
        | round(CAST(coalesce(n_dup_grams, 0) AS DOUBLE) /
        |   greatest(nt - 4, 1), 6) AS dup_frac
        |FROM ng LEFT JOIN agg USING (doc_id)""".stripMargin
  )
}
