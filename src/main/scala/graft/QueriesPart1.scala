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

/** Queries q01–q83 (83 entries) — the reference core (cleaning, imputation, rankings, stats, ML twins),
  * TPC-H shapes, IO round-trips, and the first dedup/ANN/multimodal wave.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart1 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // A1/A3/A13 — grouped aggregation over the fact table (partial+final
    // hash agg; one shuffle on the tiny group key).
    "q01_agg_pricing" -> ((s, d) => {
      li(s, d).groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("cnt"))
    }),
    // P2 — full-row distinct.
    "q02_distinct_flags" -> ((s, d) =>
      Cleaning.distinctRows(li(s, d).select("l_returnflag", "l_linestatus"))),
    // P3 — keyed dedup, deterministic keep-first.
    "q03_dedup_keep_first" -> ((s, d) =>
      Cleaning.dedupKeepFirst(
        li(s, d).select("l_partkey", "l_orderkey", "l_linenumber"),
        Seq("l_partkey"), Seq(col("l_orderkey"), col("l_linenumber")))),
    // P10/P12/F7 — membership + range predicates (pushed to parquet scan).
    "q04_filter_isin" -> ((s, d) =>
      li(s, d).filter(col("l_returnflag").isin("A", "R") && col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")),
    // P7 — winsorize outliers.
    "q05_winsorize" -> ((s, d) =>
      Cleaning.winsorize(ev(s, d), "value", 400.0, 300.0)
        .select(col("event_id"), col("value").as("value_capped"))),
    // P1/F1 — blank→null normalization.
    "q06_blank_normalize" -> ((s, d) =>
      Cleaning.normalizeBlanks(ord(s, d), Seq("o_orderpriority"))
        .select(col("o_orderkey"), col("o_orderpriority").as("priority_norm"))),
    // F3 — case normalization via the custom codegen'd TitleCase
    // expression. The oracle uses the first-char formula, which provably
    // agrees on these single-word values (hyphen/apostrophe multi-word
    // divergence from initcap is covered by CleaningSpec).
    "q07_case_norm" -> ((s, d) =>
      Tables.nation(s, d).select(col("n_nationkey"),
        graft.functions.TitleCase(col("n_name")).as("n_name_norm"))),
    // F2 — literal replace.
    "q08_str_replace" -> ((s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
        replace(col("p_type"), lit(" "), lit("_")).as("p_type_norm"))),
    // J1 — multi-table star join; dims broadcast (no shuffle of the fact).
    "q09_join_star" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 4).as("acct_total"),
          round(avg(col("c_acctbal")), 4).as("acct_avg"))
    }),
    // J2/J3 — count enrichment as a window (avoids the self-join the
    // reference uses; zero extra scan).
    "q10_count_enrich" -> ((s, d) =>
      ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(Window.partitionBy("o_custkey")).as("cust_order_cnt"))),
    // A7/W1 — mode (top-1 per group after pre-count).
    "q11_mode_top1" -> ((s, d) =>
      Rankings.modePerGroup(ord(s, d), Seq("o_orderpriority"), "o_orderstatus")
        .select(col("o_orderpriority"), col("o_orderstatus_mode"), col("cnt"))),
    // A2 — global quantiles (exact by default; `graft.quantiles.exact=false`
    // flips every quantile consumer to the O(1)-memory sketch — see
    // Stats.quantileExpr).
    "q12_quantiles_global" -> ((s, d) => {
      def q(p: Double) = Stats.quantileExpr(s, "l_quantity", p)
      li(s, d).agg(
        round(q(0.25), 4).as("p25"),
        round(q(0.5), 4).as("p50"),
        round(q(0.75), 4).as("p75"),
        round(q(0.75) - q(0.25), 4).as("iqr"))
    }),
    // A5/A6 — grouped means + quantiles + IQR.
    "q13_grouped_stats" -> ((s, d) => {
      def q(p: Double) = Stats.quantileExpr(s, "l_quantity", p)
      li(s, d).groupBy(col("l_returnflag")).agg(
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(q(0.5), 4).as("p50_qty"),
        round(q(0.25), 4).as("p25_qty"),
        round(q(0.75), 4).as("p75_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("cnt"))
    }),
    // A11 — min/max extents.
    "q14_extents" -> ((s, d) =>
      ev(s, d).agg(
        round(min(col("value")), 4).as("vmin"), round(max(col("value")), 4).as("vmax"),
        min(col("user_id")).as("umin"), max(col("user_id")).as("umax"))),
    // A12/F5 — contingency counts over a derived threshold bucketing.
    "q15_crosstab" -> ((s, d) =>
      ev(s, d).withColumn("bucket",
          when(col("value") < 100, "low").when(col("value") < 300, "mid").otherwise("high"))
        .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))),
    // A9/F6 — first-non-null fill within group (nulls synthesized
    // deterministically since the testdata is complete).
    "q16_group_fill" -> ((s, d) => {
      val base = ev(s, d).withColumn("v",
        when(col("event_type") === "error", lit(null).cast("double")).otherwise(col("value")))
      Impute.firstNonNullFill(base, Seq("user_id"), "v", "event_id")
        .select(col("event_id"), col("v").as("v_filled"))
    }),
    // J4/J5/F9/W2 — 1-NN imputation via the size-aware dispatcher: exact
    // (broadcast cross-join) while the missing side fits the broadcast
    // threshold, grid-bucketed ring escalation beyond it (value-identical;
    // ImputeSpec proves both the equivalence and the switch).
    "q17_knn_impute" -> ((s, d) => {
      val e = ev(s, d)
      val missing = e.filter(col("event_id") % 1000 === 0)
      val known = e.filter(col("event_id") % 1000 =!= 0)
      Impute.knnImpute(missing, known, "user_id", "value", "event_id",
          "event_id", Seq("event_type"))
        .select(col("event_id"), col("event_type_nn"))
    }),
    // §2.6 — set operation (union-distinct of two slices).
    "q18_union_slices" -> ((s, d) => {
      val o = ord(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_orderkey", "o_totalprice")
        .unionByName(o.filter(col("o_totalprice") > 200000).select("o_orderkey", "o_totalprice"))
        .distinct()
    }),
    // M1/M2 — covariance + Pearson correlation pairs.
    "q19_corr_cov" -> ((s, d) =>
      Stats.corrPairs(li(s, d), Seq(
          "l_quantity" -> "l_extendedprice",
          "l_quantity" -> "l_discount",
          "l_extendedprice" -> "l_discount"))
        .select(
          round(col("corr_l_quantity_l_extendedprice"), 6).as("corr_qty_price"),
          round(col("cov_l_quantity_l_extendedprice"), 4).as("cov_qty_price"),
          round(col("corr_l_quantity_l_discount"), 6).as("corr_qty_disc"),
          round(col("cov_l_quantity_l_discount"), 6).as("cov_qty_disc"),
          round(col("corr_l_extendedprice_l_discount"), 6).as("corr_price_disc"),
          round(col("cov_l_extendedprice_l_discount"), 4).as("cov_price_disc"))),
    // M6/M7 — simple linear regression, closed form (regr_* aggregates).
    "q20_regression_closed" -> ((s, d) =>
      li(s, d).agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        count(lit(1)).as("n"))),
    // M3/M4 — χ² independence.
    "q21_chi2" -> ((s, d) =>
      Stats.chiSquare(li(s, d), "l_returnflag", "l_linestatus")
        .select(round(col("chi2_stat"), 6).as("chi2_stat"), col("dof"))),
    // M8 — one-way ANOVA.
    "q22_anova" -> ((s, d) =>
      Stats.anova(ev(s, d), "value", "event_type")
        .select(round(col("ms_between"), 4).as("ms_between"),
          round(col("ms_within"), 4).as("ms_within"),
          round(col("f_stat"), 6).as("f_stat"))),
    // LLM-dedup: exact content-hash dedup.
    "q23_dedup_exact" -> ((s, d) => Dedup.exactDedup(doc(s, d), "text", "doc_id")),
    // LLM-text: token counting.
    "q24_token_count" -> ((s, d) =>
      doc(s, d).select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"))),
    // LLM-text: quality features.
    "q25_text_quality" -> ((s, d) => {
      val feats = Text.qualityFeatures(col("text"))
      val sel = col("doc_id") +: feats.map { case (n, c) =>
        if (n == "n_chars_q" || n == "n_tokens") c.as(n) else round(c, 6).as(n)
      }
      doc(s, d).select(sel: _*)
    }),
    // LLM-text: language ID (stopword-evidence heuristic).
    "q26_lang_id" -> ((s, d) =>
      doc(s, d).select(col("doc_id"), col("lang"), Text.langId(col("text")).as("lang_pred"))),
    // LLM-similarity: brute-force cosine top-k (exact baseline; LSH scale
    // path is q34).
    "q27_ann_cosine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.cosineTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("cos_sim"), 6).as("cos_sim"))
    }),
    // X1/F9/F10 — Lambert-93 inverse reprojection over synthetic coords
    // derived from the events table.
    "q28_lambert93" -> ((s, d) => {
      val base = ev(s, d).select(col("event_id"),
        (lit(600000.0) + col("user_id") * lit(1000.0) + col("value")).as("x"),
        (lit(6600000.0) + col("value") * lit(1000.0)).as("y"))
      base.select(col("event_id"),
        round(Lambert93.lonDeg(col("x"), col("y")), 6).as("lon"),
        round(Lambert93.latDeg(col("x"), col("y")), 6).as("lat"))
    }),
    // Structured Streaming — event-time tumbling windows (oracle: the
    // equivalent batch aggregation; complete-mode single batch => equal).
    "q29_stream_windowed" -> ((s, d) => EventsStream.windowedCounts(s, d)),
    // W1 — top-k per group.
    "q30_topk_per_group" -> ((s, d) =>
      Rankings.topKPerGroup(
          ord(s, d).select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)),
    // Sessionization (gap-based) — lag/lead window + running sum.
    "q31_sessionize" -> ((s, d) => EventsStream.sessionize(s, d, 30)),
    // LLM-dedup: MinHash + LSH near-dup candidate pairs, over the
    // md5/mod-p hash family (OracleHashes.scala) so the ENTIRE pipeline —
    // shingle hashes, the 16 affine minhash functions, banding, estimated
    // Jaccard — is replayed bit-for-bit by the DuckDB oracle. The xxh64
    // family remains the raw-throughput path (DedupSpec covers both).
    "q32_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLsh(doc(s, d), "text", "doc_id", k = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, family = "md5p61")
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))),
    // LLM-dedup: SimHash near-dup pairs, md5 token-hash family — the
    // 64-bit fingerprint, block partitioning, and Hamming verification are
    // all exactly mirrored in the DuckDB oracle.
    "q33_simhash_dups" -> ((s, d) =>
      Dedup.simHashDups(doc(s, d), "text", "doc_id", blocks = 4, maxHamming = 3,
        family = "md5p61")),
    // LLM-dedup: exact n-gram Jaccard sweep from a bounded probe set.
    "q34_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        doc(s, d).filter(col("doc_id") % 100 === 0), doc(s, d), "text", "doc_id",
        k = 2, threshold = 0.05, broadcastProbe = true)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))),
    // LLM-similarity: LSH-bucketed ANN (scale path of q27), md5-sign
    // Rademacher planes (OracleHashes.scala) — signatures, multi-probe
    // bucket set, candidate join, and the exact cosine re-rank are all
    // replayed bit-for-bit by the DuckDB oracle (±1·v is IEEE-exact, so
    // the projection is the same sequential fold q27 already proved).
    "q35_ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshCosineTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
          "vec_id", "embedding", 5, nBits = 8, dim = 64, family = "md5sign")
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("cos_sim"), 6).as("cos_sim"))
    }),
    // M5/M7 — multivariate linear regression (numeric + categorical
    // indicators) via the exact single-pass normal-equations solver,
    // DuckDB-oracled (estimate/std_err/t_value hash-match; p-values are
    // API-level, Student-t tail, spec-verified — DuckDB has no t CDF).
    // The iterative spark.ml fit remains as Models.linearRegression,
    // cross-checked against this one in ModelsSpec. Features are rescaled
    // to comparable units (pct, k$) so the covariance system is
    // well-conditioned and engine-ulp moment differences stay orders of
    // magnitude below the rounding grid.
    "q36_linreg_ml" -> ((s, d) =>
      Models.olsExact(
        li(s, d).select(
          col("l_quantity"), (col("l_discount") * 100).as("disc_pct"),
          (col("l_tax") * 100).as("tax_pct"), col("l_returnflag"),
          (col("l_extendedprice") / 1000).as("price_k")),
        "price_k", Seq("l_quantity", "disc_pct", "tax_pct"),
        Seq("l_returnflag" -> "A", "l_returnflag" -> "N"))
        .select(col("term"), round(col("estimate"), 4).as("estimate"),
          round(col("std_err"), 4).as("std_err"),
          round(col("t_value"), 4).as("t_value"))),
    // M9-M11 — logistic regression + confusion matrix, trained on a
    // linearly-separable label (is_high_disc is a threshold on a feature,
    // margin ≈ 0.3σ) so the converged fit classifies every row correctly
    // and the confusion matrix + accuracy are exactly DuckDB-oracled. The
    // reference-shaped non-separable fit stays verified against the
    // published confusion matrix in ModelsSpec.
    // maxIter capped at 25: on separable data the loss has no finite
    // optimum (L-BFGS would burn all 100 iterations); the boundary — and
    // the oracle-checked confusion matrix — is stable long before.
    "q37_logistic_ml" -> ((s, d) =>
      Models.logisticConfusion(
        li(s, d).withColumn("is_high_disc", (col("l_discount") > 0.05).cast("double")),
        "is_high_disc", Seq("l_quantity", "l_discount", "l_tax"), Seq("l_linestatus"),
        // Measured (maxIter sweep at sf0.1, BASELINE_HISTORY.md r21): the
        // 0.5-threshold confusion is already stable at 5 iterations (0.3σ
        // margin); 12 is a 2.4× safety factor.
        // Beyond that, iterations cost ~0.1 s each while the pipeline's
        // fixed cost (indexer/encoder/assembler passes + instance caching +
        // transform) dominates — so 12 captures the whole win.
        // SF-dependence: the label is SEPARABLE BY CONSTRUCTION
        // (is_high_disc is a threshold on a feature), so the boundary the
        // 0.5 threshold sees is scale-free — more rows sharpen the same
        // separating direction rather than move it. Verified empirically at
        // sf0.001/0.01 (Verify gate) and sf0.1 (the sweep); if the gate SF
        // ever exceeds 0.1, re-run the sweep at that SF before trusting 12.
        maxIter = 12)),
    // Multimodal plumbing — binary payload → batch feature extraction
    // through the default ByteHistogramCodec (pluggable MediaCodec seam;
    // schema/partitioning real). Scalar outputs are DuckDB-oracled; the
    // feature vector is exact-value-verified in IoMultimodalSpec.
    "q38_multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.mediaFromText(doc(s, d), "doc_id", "text"))
        .select("media_id", "modality", "n_bytes", "checksum")),
    // Skew-mitigation pattern with an exact oracle: salted two-phase
    // aggregation (salt → partial agg → final agg) must equal the plain
    // one-phase group-by. Counts are exact; double sums are rounded on
    // both sides. This is the verbatim recipe for hot keys at 100 TB.
    "q39_salted_agg" -> ((s, d) => {
      val salted = li(s, d)
        .withColumn("__salt", pmod(hash(col("l_orderkey")), lit(16)))
        .groupBy(col("l_returnflag"), col("__salt"))
        .agg(count(lit(1)).as("pc"), sum(col("l_quantity")).as("ps"))
      salted.groupBy(col("l_returnflag"))
        .agg(sum(col("pc")).as("cnt"), round(sum(col("ps")), 2).as("sum_qty"))
    }),
    // Sketch-based scale path of A2/distinct-count: HLL + t-digest-style
    // approx quantiles. Raw sketch values are engine-specific (DuckDB's HLL
    // ≠ Spark's), so the oracle-able output is the EXACT twins plus
    // tolerance booleans computed Spark-side: the sketch path is still
    // exercised (it feeds the booleans), and the oracle asserts the exact
    // columns plus literal-TRUE booleans — i.e. the sketches really honor
    // their guarantees. Tolerances match what each sketch PROMISES:
    //  - HLL promises relative cardinality error (rsd=0.005 → the 2% gate
    //    is a 4σ margin);
    //  - the GK quantile sketch promises RANK accuracy (1/10000), not
    //    value accuracy — on a discrete column a value-relative gate is
    //    wrong (one grid step of l_quantity at p25=13 is 7.7%) — so the
    //    gate is the rank form: the sketch value must lie between the
    //    exact quantiles at p±0.01 (100× the sketch's guaranteed error).
    // At 100 TB you'd drop the exact twins and ship the sketches alone —
    // this query proves they'd be trustworthy.
    "q40_approx_stats" -> ((s, d) => {
      def within2pct(approxC: Column, exactC: Column): Column =
        abs(approxC.cast("double") - exactC.cast("double")) <=
          abs(exactC.cast("double")) * lit(0.02)
      def rankOk(approxC: Column, loC: Column, hiC: Column): Column =
        approxC.cast("double").between(loC, hiC)
      // The exact count-distincts run in their OWN aggregation, apart from
      // the sketch/percentile buffers: mixing count(DISTINCT x) with
      // imperative aggregates makes Spark's distinct rewrite group the
      // FIRST partial aggregate by the distinct keys — ~|orders| groups
      // each dragging a multi-KB HLL/percentile buffer (measured: ~700 s
      // at sf0.1). Split, both sides are one healthy pass; the one-row
      // results cross-join for free.
      val exact = li(s, d).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      // r17: the one-pass sketch aggregate ran its partials on the 3 scan
      // tasks the file layout gives (measured: 8.9 s task CPU on 3 tasks =
      // the whole query's floor on a 32-core box). Two fixes, both
      // value-safe for the oracle row:
      //  - the nine exact quantiles aggregate over the (value, count)
      //    table via percentile's frequency form — the counts map the
      //    aggregate builds internally IS this table, so the interpolation
      //    sees identical state (bit-identical result) while partials
      //    carry 50 entries instead of buffering 600k rows;
      //  - the distinct sketches are Datasketches HLL (lgK 14, rse ~0.8%
      //    — well inside the 2% gate; measured estimates 0.2-0.3% off at
      //    sf0.1), replacing approx_count_distinct rsd 0.005 whose
      //    per-row update into a 52 KB fixed-width register buffer
      //    measured 5-9 s for the two sketches (BASELINE_HISTORY.md r17
      //    round 1 §4: ds-hll2 0.2-0.4 s — 20-40×) — and which a wider repartition made WORSE (22-28 s:
      //    the register-buffer cost multiplies per task). Datasketches is
      //    already this engine's 100 TB distinct-count architecture
      //    (q187); the tolerance booleans are the query's only consumer
      //    of the estimates, so the oracle row is unchanged.
      val eq = li(s, d).groupBy(col("l_quantity").as("__qv"))
        .agg(count(lit(1)).as("__qc"))
        .agg(expr("percentile(__qv, array(0.25, 0.5, 0.75, " +
          "0.24, 0.26, 0.49, 0.51, 0.74, 0.76), __qc)").as("eq"))
      val sketches = li(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .agg(
          // lgK 16 (rse ~0.41% ⇒ ~4.9σ inside the 2% gate; lgK 14's ~2.5σ
          // margin was only validated at sf0.1 — ADVICE r17). Still a
          // 64 KB dense buffer vs HLL++'s 52 KB, and the cost is the
          // per-row register update, not the buffer size: measured
          // indistinguishable from lgK 14 at sf0.1 (r18).
          hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"), lit(16)))
            .as("approx_orders"),
          hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(16)))
            .as("approx_parts"),
          expr("percentile_approx(l_quantity, array(0.25, 0.5, 0.75), 10000)")
            .as("aq"))
      exact.crossJoin(sketches).crossJoin(eq)
        .select(
          col("exact_orders"), col("exact_parts"),
          round(col("eq").getItem(0), 4).as("exact_p25"),
          round(col("eq").getItem(1), 4).as("exact_p50"),
          round(col("eq").getItem(2), 4).as("exact_p75"),
          within2pct(col("approx_orders"), col("exact_orders"))
            .as("orders_within_2pct"),
          within2pct(col("approx_parts"), col("exact_parts"))
            .as("parts_within_2pct"),
          rankOk(col("aq").getItem(0), col("eq").getItem(3), col("eq").getItem(4))
            .as("p25_rank_ok"),
          rankOk(col("aq").getItem(1), col("eq").getItem(5), col("eq").getItem(6))
            .as("p50_rank_ok"),
          rankOk(col("aq").getItem(2), col("eq").getItem(7), col("eq").getItem(8))
            .as("p75_rank_ok"))
    }),
    // M2 matrix form — distributed Pearson correlation matrix, long form.
    "q41_corr_matrix" -> ((s, d) =>
      Models.correlationMatrix(li(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("var_a"), col("var_b"), round(col("corr"), 6).as("corr"))),
    // M13 — decision tree (never actually called by the reference). Same
    // separable-label scheme as q37: l_discount has ≤11 distinct values
    // (< maxBins), so the threshold 0.05 is an available split, the greedy
    // root split is pure, and the confusion matrix is exactly predictable.
    "q42_decision_tree" -> ((s, d) =>
      Models.decisionTreeConfusion(
        li(s, d).withColumn("is_high_disc", (col("l_discount") > 0.05).cast("double")),
        "is_high_disc", Seq("l_quantity", "l_discount", "l_tax"))),
    // E1-shaped multi-stage cleaning chain with ONE cross-engine oracle:
    // keyed dedup keep-first → winsorize → window count enrichment, all
    // verified as a single composed result.
    "q43_clean_chain" -> ((s, d) => {
      var df = ev(s, d)
      df = Cleaning.dedupKeepFirst(df, Seq("user_id", "event_type"), Seq(col("event_id")))
      df = Cleaning.winsorize(df, "value", 400.0, 300.0)
      df.select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        count(lit(1)).over(Window.partitionBy("user_id")).as("user_events"))
    }),
    // LLM-dedup end product: candidates → exact-jaccard verify → connected
    // components → canonical id per document. md5p61 family makes the LSH
    // candidate stage oracle-replayable (q32's machinery at k=2), the
    // verify stage is hash-independent string-shingle Jaccard (q34's
    // argument), and components are the q70 recursive-CTE shape — so the
    // WHOLE pipeline is DuckDB-verified. rounds=16 is a generous fixpoint
    // budget (early-exit: near-dup clusters converge in 2-3) so Spark's
    // min-label propagation provably reaches the true components the
    // recursive CTE computes.
    "q44_dedup_canonicalize" -> ((s, d) =>
      Dedup.canonicalize(doc(s, d), "text", "doc_id",
        k = 2, jaccardThreshold = 0.3, rounds = 16, family = "md5p61")),
    // A12 pivot form — contingency table as wide columns.
    "q45_crosstab_pivot" -> ((s, d) =>
      ev(s, d).withColumn("bucket",
          when(col("value") < 100, "low").when(col("value") < 300, "mid").otherwise("high"))
        .groupBy("event_type").pivot("bucket", Seq("low", "mid", "high")).count()
        .na.fill(0L, Seq("low", "mid", "high"))),
    // Hierarchical aggregation (beyond the reference): rollup with
    // subtotals and grand total.
    "q46_rollup" -> ((s, d) =>
      li(s, d).rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))),
    // Classic warehouse shape (TPC-H Q5-like): 5-way star join with a
    // time-range filter pushed to the fact scans, revenue per nation.
    // Dims broadcast; the only shuffle is the customer⋈orders co-key and
    // the final small aggregation.
    "q47_revenue_by_nation" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = ord(s, d).filter(col("o_orderdate") >= lit("1998-01-01"))
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("cnt"))
    }),
    // Explicit window frames + lead/lag (beyond the reference's top-1-only
    // window usage): per-user event-time ordering, trailing moving average
    // and step delta.
    "q48_moving_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, d).select(
        col("event_id"), col("user_id"),
        round(avg(col("value")).over(w.rowsBetween(-3, 0)), 4).as("mov_avg"),
        (col("value") - lag(col("value"), 1, 0.0).over(w)).as("delta"))
    }),
    // Semi-structured column handling: JSON property extraction from the
    // events props payload (typed get + string get).
    "q49_json_extract" -> ((s, d) =>
      ev(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        get_json_object(col("props"), "$.k").as("k_str"))),
    // Pure-SQL surface: the same aggregation as q01 driven entirely
    // through spark.sql over registered temp views (the "switch user"
    // path for SQL-only workloads).
    "q50_sql_surface" -> ((s, d) => {
      Catalog.registerAll(s, d)
      s.sql("""SELECT l_returnflag, count(*) AS cnt,
              |       round(avg(l_extendedprice), 4) AS avg_price
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    }),
    // Backward as-of join (custom operator by composition): each purchase
    // event enriched with the user's most recent view event at-or-before
    // it. Right side deduped per (user, ts) so tie semantics are engine-
    // independent.
    "q51_asof_join" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"), max(col("value")).as("view_value"))
      operators.AsOfJoin.backward(purchases, views, "user_id", "ts",
          "event_id", "view_id", Seq("view_id", "view_value"))
        .select(col("event_id"), col("view_id_asof"), col("view_value_asof"))
    }),
    // Range/interval join (binned equi-join form — the scale path; the
    // naive θ-join baseline is equivalence-tested in RangeJoinSpec):
    // events bucketed into value bands from a derived ranges dim.
    "q52_range_join" -> ((s, d) => {
      val bands = s.range(0, 10).select(
        (col("id") * 50.0).as("lo"), ((col("id") + 1) * 50.0).as("hi"),
        concat(lit("band_"), col("id")).as("band"))
      operators.RangeJoin.binned(ev(s, d).select("event_id", "value"), bands,
          "value", "lo", "hi", binWidth = 50.0)
        .groupBy(col("band")).agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"))
    }),
    // Per-label embedding centroids — elementwise vector mean (the
    // k-means/cluster-profile aggregation) in long form.
    "q53_label_centroids" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        .agg(round(avg(col("col").cast("double")), 6).as("centroid"))),
    // Corpus quality FILTER — the keep/drop decision a training pipeline
    // actually ships: length + token + stopword-evidence thresholds.
    "q54_quality_filter" -> ((s, d) => {
      val t = col("text")
      val nChars = length(t).cast("long")
      val nToks = Text.tokenCount(t)
      val stop = Text.occurrences(t, " the ") + Text.occurrences(t, " a ") +
        Text.occurrences(t, " and ") + Text.occurrences(t, " of ")
      doc(s, d).select(col("doc_id"), nChars.as("n_chars_q"), nToks.as("n_tokens"),
          (stop / nToks).as("stop_share"))
        .withColumn("keep",
          col("n_chars_q") >= 100 && col("n_tokens") >= 20 && col("stop_share") > 0.0)
        .select(col("doc_id"), col("keep"))
    }),
    // PII-ish scrubbing — digit-run redaction (regex shared verbatim with
    // the oracle; both engines treat '[0-9]+' identically).
    "q55_redact_numbers" -> ((s, d) =>
      ev(s, d).select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("props_redacted"))),
    // Data-profiling summary — per-column nulls/distincts/extents in one
    // pass (the engine's `describe`).
    "q56_profile" -> ((s, d) =>
      li(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("qty_nulls"),
        countDistinct(col("l_partkey")).as("part_distinct"),
        round(min(col("l_extendedprice")), 4).as("price_min"),
        round(max(col("l_extendedprice")), 4).as("price_max"),
        round(avg(col("l_quantity")), 4).as("qty_avg"))),
    // Skew-mitigation JOIN with an exact oracle: the hot-key side is
    // salted (deterministic hash salt) and the dim side replicated per
    // salt, so one hot key spreads over N tasks; result provably equals
    // the plain join (oracle). Companion of the salted AGG in q39.
    "q57_salted_join" -> ((s, d) => {
      val salts = 8
      // derived dim: one row per (user_id % 5) bucket — 5 hot keys
      val dim = Tables.events(s, d).select((col("user_id") % 5).as("k"))
        .distinct().withColumn("k_label", concat(lit("seg_"), col("k")))
      val dimReplicated = dim.withColumn("__salt",
        explode(array((0 until salts).map(lit): _*)))
      val fact = ev(s, d).withColumn("k", col("user_id") % 5)
        .withColumn("__salt", pmod(hash(col("event_id")), lit(salts)))
      fact.join(dimReplicated, Seq("k", "__salt"))
        .groupBy(col("k_label"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),
    // Corpus n-gram frequency profile: top-20 bigrams with a total-order
    // rank (cnt desc, bigram asc) so the cut is engine-independent.
    "q58_top_bigrams" -> ((s, d) => {
      val toks = Text.tokens(col("text"))
      val bigrams = transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1)))
      val counts = doc(s, d).select(toks.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(bigrams).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      // Global top-k via orderBy+limit: Spark plans TakeOrderedAndProject —
      // each partition keeps a local 20-row heap and only those reach the
      // driver — instead of an all-rows single-partition window exchange.
      // The rank is re-derived post-cut (at most 20 rows) so the output
      // schema matches the previous window form.
      val w = Window.orderBy(col("cnt").desc, col("bigram").asc)
      counts.orderBy(col("cnt").desc, col("bigram").asc).limit(20)
        .withColumn("rnk", row_number().over(w))
    }),
    // Percentile clipping — the scale-realistic winsorize: clamp to the
    // exact [p01, p99] band computed from the data itself.
    "q59_clip_percentile" -> ((s, d) => {
      val e = ev(s, d)
      val bounds = e.agg(
        Stats.quantileExpr(s, "value", 0.01).as("lo"),
        Stats.quantileExpr(s, "value", 0.99).as("hi"))
      e.crossJoin(broadcast(bounds))
        .select(col("event_id"),
          round(when(col("value") < col("lo"), col("lo"))
            .when(col("value") > col("hi"), col("hi"))
            .otherwise(col("value")), 4).as("value_clipped"))
    }),
    // Deterministic hash-based sampling — reproducible train/eval splits
    // without engine-specific RNGs: md5 of the stable id gates the row, so
    // any engine selects the identical subset (~25% here).
    "q60_hash_sample" -> ((s, d) =>
      ev(s, d)
        .filter(substring(md5(col("event_id").cast("string").cast("binary")), 1, 1)
          .isin("0", "1", "2", "3"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("sampled_cnt"), round(sum(col("value")), 2).as("sampled_sum"))),
    // Full cube (all grouping-set combinations; rollup's completion).
    "q61_cube" -> ((s, d) =>
      li(s, d).cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(avg(col("l_quantity")), 4).as("avg_qty"))),
    // Semi/anti joins — the EXISTS / NOT EXISTS shapes (no payload from
    // the probe side ever shuffles or materializes).
    "q62_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = ord(s, d)
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("cnt")).withColumn("segment", lit("with_orders"))
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("cnt")).withColumn("segment", lit("without_orders"))
      withOrders.unionByName(withoutOrders).select("segment", "cnt")
    }),
    // Grouped exact distinct-count (expands to a two-level aggregation).
    "q63_grouped_distinct" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_suppkey")).as("supps"),
        count(lit(1)).as("cnt"))),
    // Set algebra completion: intersect/except over projected slices.
    "q64_intersect_except" -> ((s, d) => {
      val o = ord(s, d)
      val f = o.filter(col("o_orderstatus") === "F").select("o_custkey").distinct()
      val big = o.filter(col("o_totalprice") > 100000).select("o_custkey").distinct()
      f.intersect(big).withColumn("set_op", lit("intersect"))
        .unionByName(f.except(big).withColumn("set_op", lit("except")))
    }),
    // Ordered string aggregation (listagg): deterministic via sorted
    // distinct collection on both engines.
    "q65_string_agg" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag"))
        .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
          .as("statuses"))),
    // E1 END-TO-END — the reference's full cleaning backbone
    // (`R_groupe4.R:41-209`: TreePipeline.clean) re-composed stage for
    // stage over the harness events table, with the data quirks the tree
    // CSV has (blank strings, scattered nulls) synthesized
    // deterministically so every stage has real work. ONE DuckDB oracle
    // verifies the whole composition — this is the hash-green row for the
    // operators that only appear mid-pipeline (P1/P2/P4/P5/P6/P8/F8/A10…).
    // Stage order mirrors TreePipeline.clean exactly; geometry (X1/J4) is
    // covered by its own oracles (q28/q17).
    "q66_tree_pipeline_e2e" -> ((s, d) => {
      val raw = ev(s, d).select(
        col("event_id"), col("user_id"), col("value"), col("props"),
        // blanks → P1; scattered nulls → P4/A9/A10/A7 targets
        when(col("event_id") % 97 === 0, lit("  "))
          .otherwise(col("event_type")).as("etype"),
        when(col("event_id") % 13 === 0, lit(null: String))
          .otherwise(concat(lit("p"), (col("user_id") % 7).cast("string"))).as("pied"),
        when(col("event_id") % 11 === 0, lit(null: String))
          .otherwise(concat(lit("s"), (col("user_id") % 5).cast("string"))).as("situ"),
        when(col("event_id") % 17 === 0, lit(null: String))
          .otherwise(concat(lit("v"), (col("user_id") % 3).cast("string"))).as("ville"),
        when(col("event_id") % 101 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("vreq"))
      var df = Cleaning.normalizeBlanks(raw, Seq("etype"))                  // P1
      df = Cleaning.distinctRows(df)                                        // P2
      df = Cleaning.dedupKeepFirst(df, Seq("user_id", "etype"),
        Seq(col("event_id")))                                               // P3
      df = Cleaning.requireNonNull(df, Seq("vreq"))                         // P4
      df = Cleaning.sanityFilter(df, col("value") >= 0)                     // P5 (default off)
      df = Cleaning.constantFill(df, "src", "Orthophoto")                   // P6
      df = Cleaning.winsorize(df, "value", 400.0, 300.0)                    // P7
      df = Cleaning.dropCols(df, Seq("props", "vreq"))                      // P8
      df = Cleaning.relabel(df, "etype", "click", "tap")                    // F2
      df = df.filter(!col("etype").isin("error") || col("etype").isNull)    // P10
      df = Cleaning.titleCase(df, "etype")                                  // F3
      df = Impute.firstFills(df, Seq("etype"),
        Seq("pied" -> false, "situ" -> true), "event_id")     // A9+A10 fused
      df = Impute.modeFill(df, Seq("etype"), "ville")                       // A7+J1
      df = Cleaning.fillUnknown(df, "Inconnue",
        Seq("etype", "pied", "situ", "ville"))                              // F8
      df.select("event_id", "user_id", "etype", "value", "src",
        "pied", "situ", "ville")                                            // P14
    }),
    // Streaming-native stateful sessionization (flatMapGroupsWithState +
    // event-time timeout) — the oracle is the batch gap-sessionization
    // restricted to the sessions the stream provably closes (derivation on
    // the oracle entry below); q31 oracles the batch twin.
    "q67_sessionize_stateful" -> ((s, d) =>
      EventsStream.sessionizeStateful(s, d, 30)),
    // S1 — CSV scan with a DECLARED schema over a committed tree-shaped
    // fixture (the reference's own I/O is CSV, `R_groupe4.R:41,1074`;
    // S2/S3 round-trip through the same Csv module in TreePipelineSpec).
    // Blank cells land as null on both engines (Spark nullValue=""/DuckDB
    // default nullstr) — the fixture has blank numeric AND string cells to
    // pin that. Ignores the sf dir: the fixture is the dataset.
    "q68_csv_scan" -> ((s, _) =>
      graft.io.Csv.read(s, csvFixturePath, csvFixtureSchema)
        .select(csvFixtureCols.map(col): _*)),
    // LLM-dedup: EXACT embedding-cosine near-dup pairs via grid-blocked
    // candidate generation (no cross join, no approximation). The corpus
    // has no natural near-dups (max pairwise cosine ~0.51), so the query
    // deterministically unions in perturbed copies of every 50th vector
    // (first coordinate +0.05 in double) — the detector must find exactly
    // those 10 pairs at threshold 0.99 and nothing else.
    "q69_cosine_neardup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding"))
      val dups = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.05)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      Similarity.cosineNearDupPairs(e.unionByName(dups), "vec_id", "embedding",
          threshold = 0.99, blockDims = 3)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
    }),
    // LLM-dedup: exact canonicalization — true connected components of the
    // "n-gram jaccard >= 0.5" graph (recall-1.0 candidates via the inverted
    // postings join, min-label propagation to fixpoint). The oracle
    // recomputes the same components with a recursive CTE; q44 remains the
    // LSH-candidates variant (approximate recall by design, rows-only).
    "q70_canonicalize_exact" -> ((s, d) =>
      Dedup.canonicalizeExact(doc(s, d), "text", "doc_id",
        k = 2, jaccardThreshold = 0.5)),
    // P9 — drop-columns-by-prefix (ref drops helper columns by name prefix
    // when exporting, `R_groupe4.R:1071-1072` spirit): schema-level operator,
    // oracled by selecting the surviving columns explicitly.
    "q71_drop_prefix" -> ((s, d) =>
      Cleaning.dropColsByPrefix(doc(s, d), "n_")),
    // S2+S3 — CSV sink + round-trip re-read (`R_groupe4.R:1074-1077`: the
    // reference exports its cleaned frame to CSV and re-reads it as its
    // only I/O "test"). The fixture is parsed, written through Csv.write
    // (all columns, natural partitioning), re-read with the declared
    // schema, and must hash-match the ORIGINAL fixture's oracle — i.e.
    // the sink loses nothing: doubles survive via shortest-round-trip
    // formatting, nulls stay null, quoted/accented strings stay intact.
    "q72_csv_roundtrip" -> ((s, _) => {
      val parsed = graft.io.Csv.read(s, csvFixturePath, csvFixtureSchema)
      // Unique per Spark app: two concurrent sessions (bench + verify,
      // parallel CI) must not race on the same overwrite + re-read dir.
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q72_roundtrip_${s.sparkContext.applicationId}").getAbsolutePath
      graft.io.Csv.roundTrip(s, parsed, dir)
        .select(csvFixtureCols.map(col): _*)
    }),
    // LLM-similarity: IVF-flat ANN — the inverted-file coarse quantizer
    // complementing q35's hyperplane LSH (the two standard ANN scale
    // paths). Deterministic centroid rule (16 lowest-id corpus vectors)
    // makes centroids → assignment → probe → re-rank exactly replayable
    // by the DuckDB oracle; assignment is a pure per-row expression (no
    // corpus shuffle), probes touch nProbe/nCells of the corpus.
    "q73_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfCosineTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
          "vec_id", "embedding", 5, nCells = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("cos_sim"), 6).as("cos_sim"))
    }),
    // Multimodal frame sampling (video-style fixed-frame payloads): every
    // 4th 64-byte frame as its own row — sequence+explode+binary substr,
    // fully codegen'd, no UDF. The corpus is ASCII so byte offsets equal
    // char offsets and the oracle slices the text directly.
    "q74_frame_sample" -> ((s, d) =>
      graft.multimodal.Multimodal.frameSample(
          graft.multimodal.Multimodal.mediaFromText(doc(s, d), "doc_id", "text"),
          frameBytes = 64, stride = 4)
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          decode(col("frame"), "UTF-8").as("frame_text"))),
    // Streaming stream–static broadcast join (stateless enrichment): every
    // event enriched with its user's batch-aggregated profile; a single
    // AvailableNow batch makes it equal to the batch join the oracle runs.
    "q75_stream_static_join" -> ((s, d) => EventsStream.streamStaticJoin(s, d)),
    // X1 through the pure-SQL surface (SURVEY.md §4): the same
    // reprojection as q28, but written in SQL against the
    // `lambert93_to_wgs84` function GraftExtensions registers — the
    // builder calls the same Lambert93 column functions, so this shares
    // q28's oracle verbatim. Requires spark.sql.extensions=
    // graft.GraftExtensions (how Verify/Bench build their sessions).
    "q76_lambert93_sql" -> ((s, d) => {
      Catalog.registerAll(s, d)
      s.sql("""SELECT event_id,
              |  round(ll.lon, 6) AS lon, round(ll.lat, 6) AS lat
              |FROM (
              |  SELECT event_id,
              |    lambert93_to_wgs84(600000.0 + user_id * 1000.0 + value,
              |                       6600000.0 + value * 1000.0) AS ll
              |  FROM events) t""".stripMargin)
    }),
    // Streaming exact dedup via dropDuplicatesWithinWatermark: state for
    // each key expires once the watermark passes it, so memory is bounded
    // by arrival-rate × horizon (plain dropDuplicates without ts in the
    // key never evicts). Dedup on the coarser (user_id, event_type) key —
    // real duplicates exist, unlike the unique event_id — then count
    // survivors per type. Survivor CONTENT is arrival-order dependent, but
    // in the single AvailableNow batch the per-type survivor count equals
    // the distinct key count exactly, which is what the oracle checks.
    "q77_stream_dedup" -> ((s, d) =>
      EventsStream.dedupStreamCounts(s, d, Seq("user_id", "event_type"))),
    // Winnowing (MOSS) fingerprint near-dup — the fifth dedup modality
    // (exact / MinHash-LSH / SimHash / n-gram-Jaccard / winnowing): distinct
    // window-minima of md5p61 shingle hashes per document, inverted postings
    // self-join, pairs sharing >= 8 fingerprints. The signature is ~2/(w+1)
    // of the full shingle index — winnowing is how the postings table
    // shrinks at corpus scale while keeping recall 1.0 for matches of
    // >= k+w-1 tokens. maxDocFreq=64 drops boilerplate fingerprints, the
    // standard O(df²) join-fan-out skew guard (mirrored in the oracle).
    "q78_winnow_neardup" -> ((s, d) =>
      Dedup.winnowNearDupPairs(doc(s, d), "text", "doc_id",
        k = 3, w = 4, minShared = 8, maxDocFreq = 64)),
    // TF-IDF top-terms per document — the classic corpus-weighting operator.
    // idf is the RATIONAL form N/df (one correctly-rounded IEEE division,
    // bit-exact on any engine) rather than ln(N/df), whose libm rounding is
    // engine-specific; swap functions.log in for production use — the plan
    // shape (explode -> two hash aggs -> term join -> per-doc top-k window)
    // is identical. N arrives as a broadcast 1-row cross join, never a
    // driver-side collect.
    "q79_tfidf_topk" -> ((s, d) => {
      // pre-shuffle by doc id (single-row-group scan serialized the
      // tokenize, r17) and truncate: tf feeds the doc-frequency agg AND
      // the scoring join, so the token pass otherwise runs twice
      val tf = graft.io.Checkpoints.truncate(doc(s, d)
        .repartition(nPart(s), col("doc_id"))
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")), eager = false)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
      val nDocs = doc(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf") * (col("n_docs").cast("double") / col("df_docs")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df_docs"),
          col("rnk"), round(col("score"), 6).as("tfidf"))
    }),
    // Partition-pruned layout — the 100 TB table design this engine assumes:
    // events written as date-partitioned parquet (the sink side of a daily
    // ingest), re-read with a partition-column predicate. The filter never
    // touches file contents: it prunes whole directories at planning time
    // (PartitionFilters in the scan, see PLANS.md), so a 3-day query over a
    // 10-year corpus reads 0.1% of the files. Oracle = the same aggregate
    // over the unpartitioned original.
    "q80_partition_prune" -> ((s, d) => {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q80_partitioned_${s.sparkContext.applicationId}").getAbsolutePath
      ev(s, d).withColumn("dt", to_date(col("ts")))
        .write.partitionBy("dt").mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("dt").between(lit("2024-01-10"), lit("2024-01-12")))
        .groupBy(col("dt").cast("string").as("dt"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
    }),
    // Int8 scalar-quantized ANN — the memory-side scale path ANN indexes
    // actually ship (FAISS SQ8): per-vector symmetric quantization
    // (scale = max|x|/127, code = floor(x/scale + 0.5)), then brute-force
    // cosine over the CODES. Dot products become exact integer arithmetic
    // (bounded by 64·127² < 2^21 — no overflow, no float summation-order
    // ambiguity), 4× less memory traffic than float32; only the final
    // norm/ratio touches doubles (sqrt and division are correctly rounded,
    // so the oracle replays bit-for-bit). Zero vectors are excluded by the
    // same nonzero-norm contract as q73.
    "q81_quantized_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / lit(127.0))
        .filter(col("scale") > 0)
        .withColumn("qv",
          transform(col("v"), x => floor(x / col("scale") + lit(0.5)).cast("long")))
        .withColumn("qn", sqrt(aggregate(
          col("qv"), lit(0L), (acc, x) => acc + x * x).cast("double")))
        .select(col("vec_id"), col("qv"), col("qn"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qa"), col("qn").as("qan"))
      val c = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("neighbor_id"), col("qv").as("qb"), col("qn").as("qbn"))
      val qdot = aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      val w = Window.partitionBy("query_id")
        .orderBy(col("qcos").desc, col("neighbor_id").asc)
      broadcast(q).crossJoin(c)
        .withColumn("qcos", qdot.cast("double") / (col("qan") * col("qbn")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("neighbor_id"), col("rnk"),
          round(col("qcos"), 6).as("qcos"))
    }),
    // Stream–stream event-time interval join (click→purchase attribution
    // within 1h): both sides watermarked, state evicted past the interval
    // bound — the two-unbounded-sides join Structured Streaming shape that
    // completes the streaming surface (windowed agg / dedup / stream-static
    // / stateful sessions / stream-stream). One AvailableNow batch emits
    // exactly the batch interval join the oracle runs.
    "q82_stream_stream_join" -> ((s, d) => EventsStream.streamStreamJoin(s, d)),
    // JSONL sink + re-read — the LLM-corpus interchange format (one JSON
    // object per line): the documents table written through the JSON sink
    // and read back with the DECLARED schema must equal the original, i.e.
    // the sink loses nothing (quotes/control chars escape and unescape,
    // nulls stay null, BIGINTs stay integral). Reading with an explicit
    // schema matters at scale: schema inference is a full extra pass over
    // the corpus before the real read — at 100 TB that is the difference
    // between one scan and two. Completes the format matrix: CSV (q72),
    // partitioned parquet (q80), JSONL (here).
    "q83_jsonl_roundtrip" -> ((s, d) => {
      val docs = doc(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q83_jsonl_${s.sparkContext.applicationId}").getAbsolutePath
      graft.io.Jsonl.write(docs, dir)
      graft.io.Jsonl.read(s, dir, docs.schema, quarantine = false)
        .select(docs.columns.map(col): _*)
    })
  )

  val oracle: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_distinct_flags" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q03_dedup_keep_first" ->
      """SELECT l_partkey, l_orderkey, l_linenumber FROM (
        | SELECT l_partkey, l_orderkey, l_linenumber,
        |  row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
        | FROM lineitem) t WHERE rn = 1""".stripMargin,
    "q04_filter_isin" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_returnflag IN ('A','R') AND l_quantity > 25""".stripMargin,
    "q05_winsorize" ->
      """SELECT event_id,
        | CASE WHEN value > 400 THEN CAST(300.0 AS DOUBLE) ELSE value END AS value_capped
        |FROM events""".stripMargin,
    "q06_blank_normalize" ->
      "SELECT o_orderkey, nullif(trim(o_orderpriority), '') AS priority_norm FROM orders",
    "q07_case_norm" ->
      """SELECT n_nationkey,
        | concat(upper(substr(n_name, 1, 1)), lower(substr(n_name, 2))) AS n_name_norm
        |FROM nation""".stripMargin,
    "q08_str_replace" ->
      "SELECT p_partkey, replace(p_type, ' ', '_') AS p_type_norm FROM part",
    "q09_join_star" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        | round(sum(c_acctbal), 4) AS acct_total, round(avg(c_acctbal), 4) AS acct_avg
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q10_count_enrich" ->
      """SELECT o_orderkey, o_custkey,
        | count(*) OVER (PARTITION BY o_custkey) AS cust_order_cnt
        |FROM orders""".stripMargin,
    "q11_mode_top1" ->
      """SELECT o_orderpriority, o_orderstatus AS o_orderstatus_mode, cnt FROM (
        | SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY count(*) DESC, o_orderstatus) AS rn
        | FROM orders GROUP BY o_orderpriority, o_orderstatus) t
        |WHERE rn = 1""".stripMargin,
    "q12_quantiles_global" ->
      """SELECT round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        | round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        | round(quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25), 4) AS iqr
        |FROM lineitem""".stripMargin,
    "q13_grouped_stats" ->
      """SELECT l_returnflag,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        | round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
        | round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q14_extents" ->
      """SELECT round(min(value), 4) AS vmin, round(max(value), 4) AS vmax,
        | min(user_id) AS umin, max(user_id) AS umax FROM events""".stripMargin,
    "q15_crosstab" ->
      """SELECT event_type,
        | CASE WHEN value < 100 THEN 'low' WHEN value < 300 THEN 'mid' ELSE 'high' END AS bucket,
        | count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q16_group_fill" ->
      """WITH base AS (
        | SELECT event_id, user_id,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        | FROM events),
        |fills AS (
        | SELECT user_id, arg_min(v, event_id) AS fill_v FROM base
        | WHERE v IS NOT NULL GROUP BY user_id)
        |SELECT b.event_id, coalesce(b.v, f.fill_v) AS v_filled
        |FROM base b LEFT JOIN fills f USING (user_id)""".stripMargin,
    "q17_knn_impute" ->
      """WITH missing AS (
        | SELECT event_id, user_id, value FROM events WHERE event_id % 1000 = 0),
        |known AS (
        | SELECT event_id, user_id, value, event_type FROM events WHERE event_id % 1000 <> 0),
        |pairs AS (
        | SELECT m.event_id AS event_id, k.event_type AS event_type_nn,
        |  row_number() OVER (PARTITION BY m.event_id
        |   ORDER BY (m.user_id - k.user_id)*(m.user_id - k.user_id)
        |          + (m.value - k.value)*(m.value - k.value) ASC,
        |          k.event_id ASC) AS rn
        | FROM missing m CROSS JOIN known k)
        |SELECT event_id, event_type_nn FROM pairs WHERE rn = 1""".stripMargin,
    "q18_union_slices" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000""".stripMargin,
    "q19_corr_cov" ->
      """SELECT
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
        | round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
        | round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
        | round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
        | round(covar_samp(l_extendedprice, l_discount), 4) AS cov_price_disc
        |FROM lineitem""".stripMargin,
    "q20_regression_closed" ->
      """SELECT round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        | count(*) AS n
        |FROM lineitem""".stripMargin,
    "q21_chi2" ->
      """WITH obs AS (
        | SELECT l_returnflag AS r, l_linestatus AS c, CAST(count(*) AS DOUBLE) AS o
        | FROM lineitem GROUP BY 1, 2),
        |j AS (
        | SELECT r, c, o,
        |  sum(o) OVER (PARTITION BY r) AS rm,
        |  sum(o) OVER (PARTITION BY c) AS cm,
        |  sum(o) OVER () AS n
        | FROM obs)
        |SELECT round(sum((o - rm*cm/n) * (o - rm*cm/n) / (rm*cm/n)), 6) AS chi2_stat,
        | (count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS dof
        |FROM j""".stripMargin,
    "q22_anova" ->
      """WITH g AS (
        | SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |  avg(value) AS m, var_samp(value) AS v
        | FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |t AS (
        | SELECT g.*, sum(n) OVER () AS nn,
        |  sum(n * m) OVER () / sum(n) OVER () AS gm,
        |  CAST(count(*) OVER () AS DOUBLE) AS k
        | FROM g)
        |SELECT round(sum(n * ((m - gm) * (m - gm))) / (max(k) - 1), 4) AS ms_between,
        | round(sum((n - 1) * v) / (max(nn) - max(k)), 4) AS ms_within,
        | round((sum(n * ((m - gm) * (m - gm))) / (max(k) - 1))
        |      / (sum((n - 1) * v) / (max(nn) - max(k))), 6) AS f_stat
        |FROM t""".stripMargin,
    "q23_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q24_token_count" ->
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "q25_text_quality" ->
      """WITH t AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt
        | FROM documents)
        |SELECT doc_id,
        | nc AS n_chars_q,
        | nt AS n_tokens,
        | round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / nt, 6) AS avg_token_len,
        | round(CAST(nt - 1 AS DOUBLE) / nc, 6) AS space_ratio,
        | round((((length(text) - length(replace(text, ' the ', ''))) / 5
        |   + (length(text) - length(replace(text, ' a ', ''))) / 3)
        |   + (length(text) - length(replace(text, ' and ', ''))) / 5
        |   + (length(text) - length(replace(text, ' of ', ''))) / 4) / nt, 6) AS stopword_share
        |FROM t""".stripMargin,
    "q26_lang_id" ->
      """WITH s AS (
        | SELECT doc_id, lang,
        |  ((length(text) - length(replace(text, ' the ', ''))) / 5
        |   + (length(text) - length(replace(text, ' and ', ''))) / 5)
        |   + (length(text) - length(replace(text, ' of ', ''))) / 4 AS s_en,
        |  ((length(text) - length(replace(text, ' le ', ''))) / 4
        |   + (length(text) - length(replace(text, ' la ', ''))) / 4)
        |   + (length(text) - length(replace(text, ' et ', ''))) / 4 AS s_fr,
        |  ((length(text) - length(replace(text, ' der ', ''))) / 5
        |   + (length(text) - length(replace(text, ' und ', ''))) / 5)
        |   + (length(text) - length(replace(text, ' die ', ''))) / 5 AS s_de,
        |  ((length(text) - length(replace(text, ' el ', ''))) / 4
        |   + (length(text) - length(replace(text, ' los ', ''))) / 5)
        |   + (length(text) - length(replace(text, ' y ', ''))) / 3 AS s_es
        | FROM documents),
        |b AS (SELECT *, greatest(s_en, s_fr, s_de, s_es) AS best FROM s)
        |SELECT doc_id, lang,
        | CASE WHEN s_en = best AND best > 0 THEN 'en'
        |      WHEN s_fr = best AND best > 0 THEN 'fr'
        |      WHEN s_de = best AND best > 0 THEN 'de'
        |      WHEN s_es = best AND best > 0 THEN 'es'
        |      ELSE 'unknown' END AS lang_pred
        |FROM b""".stripMargin,
    "q27_ann_cosine" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv FROM e WHERE vec_id >= 5),
        |p AS (
        | SELECT query_id, neighbor_id,
        |  list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(nv, x -> x * x), (x, y) -> x + y))) AS cos_sim
        | FROM q CROSS JOIN c),
        |r AS (
        | SELECT query_id, neighbor_id, cos_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        | FROM p)
        |SELECT query_id, neighbor_id, rnk, round(cos_sim, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,
    "q28_lambert93" -> lambertOracle,
    "q29_stream_windowed" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS win_start,
        | event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q30_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin,
    "q31_sessionize" ->
      """WITH e AS (
        | SELECT user_id, event_id, ts, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |s AS (
        | SELECT *, CASE WHEN prev_ts IS NULL
        |   OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |x AS (
        | SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        | FROM s)
        |SELECT user_id, session_seq, count(*) AS n_events,
        | CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        | round(sum(value), 4) AS session_value
        |FROM x GROUP BY user_id, session_seq""".stripMargin,
    // MinHash+LSH replayed bit-for-bit (OracleHashes.scala md5p61 family):
    // base = md5_number_lower(shingle) ≡ MD5 digest bytes 8..15 LE (probed
    // identical), reduced mod p = 2⁶¹−1 with UNSIGNED remainder on both
    // sides (UBIGINT % here, Long.remainderUnsigned there); the 16 affine
    // functions (a_j·x + b_j) mod p use md5-derived seeds, computed in
    // HUGEINT here and by exact 128-bit Mersenne folding there
    // (property-tested vs BigInteger). Banding = the signature slices
    // themselves (list equality), est = agreeing positions / 16 (exact
    // binary division by 16, so round(·,4) is pure display on both sides).
    "q32_minhash_lsh" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 1) + 1),
        |   i -> array_to_string(t[i : i + 2], ' ')) AS s
        | FROM toks),
        |base AS (
        | SELECT doc_id, list_transform(s,
        |   x -> (md5_number_lower(x) % 2305843009213693951::UBIGINT)::HUGEINT) AS bs
        | FROM sh),
        |sig AS (
        | SELECT doc_id, list_transform(range(16), j ->
        |   list_min(list_transform(bs, x ->
        |     ((((md5_number_lower('minhash_a_' || j) % 2305843009213693950::UBIGINT)::HUGEINT + 1) * x
        |       + (md5_number_lower('minhash_b_' || j) % 2305843009213693951::UBIGINT)::HUGEINT)
        |      % 2305843009213693951::HUGEINT)::BIGINT))) AS sig
        | FROM base),
        |banded AS (
        | SELECT doc_id, r.b AS band, sig[2 * r.b + 1 : 2 * r.b + 2] AS band_key, sig
        | FROM sig, range(8) r(b)),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  list_sum(list_transform(range(16), i ->
        |    CASE WHEN a.sig[i + 1] = b.sig[i + 1] THEN 1 ELSE 0 END)) / 16.0 AS est
        | FROM banded a JOIN banded b
        |   ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(est, 4) AS est_jaccard
        |FROM cand WHERE est >= 0.5""".stripMargin,
    // SimHash replayed bit-for-bit: per-token md5_number_lower votes ±1
    // per bit ((h >> b) & 1 is a logical shift on UBIGINT, matching
    // Long's >>>), fingerprint bit set iff votes strictly positive; the 4
    // 16-bit blocks, candidate equi-join, and bit_count(xor) Hamming
    // verification mirror Dedup.simHashDups exactly. Only id/Hamming
    // columns are emitted, so the UBIGINT-vs-signed-long fingerprint
    // representation difference never reaches the compared output.
    "q33_simhash_dups" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |th AS (
        | SELECT doc_id, list_transform(t, x -> md5_number_lower(x)) AS hs FROM toks),
        |sig AS (
        | SELECT doc_id, CAST(list_sum(list_transform(range(64), b ->
        |   CASE WHEN list_sum(list_transform(hs, h ->
        |     CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |   THEN (1::UBIGINT << b) ELSE 0::UBIGINT END)) AS UBIGINT) AS sim
        | FROM th),
        |blocked AS (
        | SELECT doc_id, r.blk AS blk, (sim >> (r.blk * 16)) & 65535 AS blk_val, sim
        | FROM sig, range(4) r(blk)),
        |pairs AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        | FROM blocked a JOIN blocked b
        |   ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin,
    // Exact n-gram Jaccard is hash-INDEPENDENT: the Spark side compares
    // 64-bit xxhash64 shingle sets, this oracle compares the string
    // shingles themselves — identical |A∩B|/|A∪B| unless two distinct
    // 2-shingles collide in 64 bits (probability ~n²/2⁶⁴, negligible and
    // loudly visible as a hash mismatch if it ever happened). Shingling
    // mirrors Text.shingleHashes: split on single space, windows of 2,
    // max(size-1, 1) windows (short docs yield one truncated shingle),
    // distinct. The oracle may brute-force pairs — it is DuckDB-side only;
    // the Spark plan stays the inverted-postings join.
    "q34_ngram_jaccard" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(
        |   list_transform(range(1, greatest(len(t) - 1, 1) + 1),
        |     i -> array_to_string(t[i : i + 1], ' '))) AS s
        | FROM toks),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) AS shared, len(a.s) AS sza, len(b.s) AS szb
        | FROM sh a JOIN sh b ON a.doc_id % 100 = 0 AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        | round(CAST(shared AS DOUBLE) / (sza + szb - shared), 4) AS jaccard
        |FROM pairs
        |WHERE CAST(shared AS DOUBLE) / (sza + szb - shared) >= 0.05""".stripMargin,
    // q35 LSH ANN replayed bit-for-bit: the 8 Rademacher hyperplanes'
    // sign bits come from md5_number_lower('hyperplane_' || p); ±1·v is
    // IEEE-exact, so each projection is the same sequential left fold as
    // q27's dot product (parity proven there); multi-probe = the 8
    // single-bit-flip buckets via xor; candidates deduped, then exact
    // cosine re-rank with the deterministic (cos desc, id asc) order.
    "q35_ann_lsh" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |sg AS (
        | SELECT vec_id, v,
        |  CAST(list_sum(list_transform(range(8), p ->
        |    CASE WHEN list_reduce(list_transform(range(64), i ->
        |      CASE WHEN (md5_number_lower('hyperplane_' || p) >> i) & 1 = 1
        |           THEN v[i + 1] ELSE -v[i + 1] END), (x, y) -> x + y) > 0
        |    THEN 1 << p ELSE 0 END)) AS INT) AS sig,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
        | FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, sig, nrm AS qn FROM sg WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv, sig AS bucket, nrm AS nn
        |      FROM sg WHERE vec_id >= 5),
        |probes AS (
        | SELECT query_id, qv, qn, CAST(xor(sig, m.m) AS INT) AS bucket
        | FROM q, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) m),
        |p AS (
        | SELECT DISTINCT query_id, neighbor_id,
        |  list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (qn * nn) AS cos_sim
        | FROM probes JOIN c USING (bucket)),
        |r AS (
        | SELECT query_id, neighbor_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
        | FROM p)
        |SELECT query_id, neighbor_id, rnk, round(cos_sim, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,
    // The exact normal-equations OLS, generated so the moment aggregates
    // and the pivotless Gauss-Jordan mirror Models.olsExact op for op.
    "q36_linreg_ml" -> Models.olsOracleSql(
      """SELECT CAST(l_quantity AS DOUBLE) AS f0,
        | CAST(l_discount * 100 AS DOUBLE) AS f1,
        | CAST(l_tax * 100 AS DOUBLE) AS f2,
        | CAST(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS DOUBLE) AS f3,
        | CAST(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS DOUBLE) AS f4,
        | CAST(l_extendedprice / 1000 AS DOUBLE) AS y
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        | AND l_tax IS NOT NULL AND l_returnflag IS NOT NULL
        | AND l_extendedprice IS NOT NULL""".stripMargin,
      Seq("l_quantity", "disc_pct", "tax_pct",
        "l_returnflag_oh_A", "l_returnflag_oh_N"), 4),
    // Separable label ⇒ the converged logistic fit classifies every row
    // correctly, so the confusion matrix is the label's own contingency
    // and accuracy is exactly 1.
    "q37_logistic_ml" ->
      """SELECT CAST(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS DOUBLE) AS label,
        | CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS prediction,
        | count(*) AS cnt, CAST(1.0 AS DOUBLE) AS accuracy
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    // The ByteHistogramCodec fake decode is deterministic over the
    // document bytes (ASCII in this corpus, so ord(char) == byte): the
    // rolling checksum is re-expressed with HUGEINT modular arithmetic
    // (Scala Long wraps silently at 2⁶⁴; DuckDB BIGINT would overflow-
    // error), then mapped back to signed 64-bit.
    "q38_multimodal_features" ->
      """WITH b AS (
        | SELECT doc_id AS media_id, 'text/plain' AS modality,
        |  list_transform(range(1, length(text) + 1),
        |    i -> CAST(ord(substr(text, i, 1)) AS HUGEINT)) AS bytes,
        |  CAST(length(text) AS BIGINT) AS n_bytes
        | FROM documents),
        |c AS (
        | SELECT media_id, modality, n_bytes,
        |  CASE WHEN n_bytes = 0 THEN CAST(0 AS HUGEINT)
        |   ELSE list_reduce(bytes,
        |     (x, y) -> (x * 31 + y) % 18446744073709551616::HUGEINT) END AS cs
        | FROM b)
        |SELECT media_id, modality, n_bytes,
        | CAST(CASE WHEN cs > 9223372036854775807::HUGEINT
        |  THEN cs - 18446744073709551616::HUGEINT ELSE cs END AS BIGINT) AS checksum
        |FROM c""".stripMargin,
    "q39_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // q40: the oracle asserts the exact twins and that Spark's sketches
    // landed within 2% of truth (the booleans must be literally TRUE).
    "q40_approx_stats" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_orders,
        | count(DISTINCT l_partkey) AS exact_parts,
        | round(quantile_cont(l_quantity, 0.25), 4) AS exact_p25,
        | round(quantile_cont(l_quantity, 0.5), 4) AS exact_p50,
        | round(quantile_cont(l_quantity, 0.75), 4) AS exact_p75,
        | TRUE AS orders_within_2pct,
        | TRUE AS parts_within_2pct,
        | TRUE AS p25_rank_ok,
        | TRUE AS p50_rank_ok,
        | TRUE AS p75_rank_ok
        |FROM lineitem""".stripMargin,
    "q41_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      (for { i <- cols.indices; j <- cols.indices if i < j } yield
        s"SELECT '${cols(i)}' AS var_a, '${cols(j)}' AS var_b, " +
          s"round(corr(${cols(i)}, ${cols(j)}), 6) AS corr FROM lineitem")
        .mkString("\nUNION ALL\n")
    },
    "q42_decision_tree" ->
      """SELECT CAST(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS DOUBLE) AS label,
        | CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS prediction,
        | count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q43_clean_chain" ->
      """WITH deduped AS (
        | SELECT * FROM (
        |  SELECT event_id, user_id, event_type, value,
        |   row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |  FROM events) t WHERE rn = 1),
        |capped AS (
        | SELECT event_id, user_id, event_type,
        |  CASE WHEN value > 400 THEN CAST(300.0 AS DOUBLE) ELSE value END AS value
        | FROM deduped)
        |SELECT event_id, user_id, event_type, value,
        | count(*) OVER (PARTITION BY user_id) AS user_events
        |FROM capped""".stripMargin,
    // The full near-dup canonicalization pipeline replayed end-to-end:
    // q32's md5p61 minhash/banding at k=2 for candidates (est >= t/2 =
    // 0.15), hash-independent string-shingle Jaccard for the verify stage
    // (q34's argument), and q70's recursive-CTE connected components.
    // Spark reaches the same fixpoint because canonicalize's min-label
    // propagation runs to convergence (rounds=16 backstop, early exit).
    "q44_dedup_canonicalize" ->
      """WITH RECURSIVE toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 1) + 1),
        |   i -> array_to_string(t[i : i + 1], ' ')) AS s
        | FROM toks),
        |base AS (
        | SELECT doc_id, list_transform(s,
        |   x -> (md5_number_lower(x) % 2305843009213693951::UBIGINT)::HUGEINT) AS bs
        | FROM sh),
        |sig AS (
        | SELECT doc_id, list_transform(range(16), j ->
        |   list_min(list_transform(bs, x ->
        |     ((((md5_number_lower('minhash_a_' || j) % 2305843009213693950::UBIGINT)::HUGEINT + 1) * x
        |       + (md5_number_lower('minhash_b_' || j) % 2305843009213693951::UBIGINT)::HUGEINT)
        |      % 2305843009213693951::HUGEINT)::BIGINT))) AS sig
        | FROM base),
        |banded AS (
        | SELECT doc_id, r.b AS band, sig[2 * r.b + 1 : 2 * r.b + 2] AS band_key, sig
        | FROM sig, range(8) r(b)),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM banded a JOIN banded b
        |   ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        | WHERE list_sum(list_transform(range(16), i ->
        |    CASE WHEN a.sig[i + 1] = b.sig[i + 1] THEN 1 ELSE 0 END)) / 16.0 >= 0.15),
        |shd AS (
        | SELECT doc_id, list_distinct(s) AS sd FROM sh),
        |verified AS (
        | SELECT c.id_a AS ia, c.id_b AS ib
        | FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b
        | WHERE CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
        |   / (len(a.sd) + len(b.sd) - len(list_intersect(a.sd, b.sd))) >= 0.3),
        |e AS (SELECT ia AS a, ib AS b FROM verified
        |      UNION ALL SELECT ib, ia FROM verified),
        |cc(node, label) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.a, cc.label FROM e JOIN cc ON cc.node = e.b
        | WHERE cc.label < e.a)
        |SELECT node AS doc_id, min(label) AS canonical_id
        |FROM cc GROUP BY node""".stripMargin,
    "q45_crosstab_pivot" ->
      """WITH b AS (
        | SELECT event_type,
        |  CASE WHEN value < 100 THEN 'low' WHEN value < 300 THEN 'mid' ELSE 'high' END AS bucket
        | FROM events)
        |SELECT event_type,
        | count(*) FILTER (WHERE bucket = 'low') AS low,
        | count(*) FILTER (WHERE bucket = 'mid') AS mid,
        | count(*) FILTER (WHERE bucket = 'high') AS high
        |FROM b GROUP BY event_type""".stripMargin,
    "q46_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q47_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS cnt
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name""".stripMargin,
    "q48_moving_window" ->
      """SELECT event_id, user_id,
        | round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
        | value - lag(value, 1, CAST(0.0 AS DOUBLE)) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id) AS delta
        |FROM events""".stripMargin,
    "q49_json_extract" ->
      """SELECT event_id,
        | CAST(json_extract(props, '$.k') AS INT) AS k_int,
        | json_extract_string(props, '$.k') AS k_str
        |FROM events""".stripMargin,
    "q50_sql_surface" ->
      """SELECT l_returnflag, count(*) AS cnt,
        | round(avg(l_extendedprice), 4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q51_asof_join" ->
      """WITH purchases AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |views AS (
        | SELECT user_id, ts, max(event_id) AS view_id, max(value) AS view_value
        | FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT p.event_id, v.view_id AS view_id_asof, v.view_value AS view_value_asof
        |FROM purchases p
        |ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin,
    "q52_range_join" ->
      """WITH bands AS (
        | SELECT i * 50.0 AS lo, (i + 1) * 50.0 AS hi,
        |  concat('band_', CAST(i AS VARCHAR)) AS band
        | FROM (SELECT unnest(range(0, 10)) AS i))
        |SELECT band, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band""".stripMargin,
    "q53_label_centroids" ->
      """SELECT label, CAST(d.i AS BIGINT) AS dim,
        | round(avg(CAST(embedding[d.i] AS DOUBLE)), 6) AS centroid
        |FROM embeddings, (SELECT unnest(range(1, 65)) AS i) d
        |GROUP BY label, d.i""".stripMargin,
    "q54_quality_filter" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS nt,
        |  (length(text) - length(replace(text, ' the ', ''))) / 5
        |    + (length(text) - length(replace(text, ' a ', ''))) / 3
        |    + (length(text) - length(replace(text, ' and ', ''))) / 5
        |    + (length(text) - length(replace(text, ' of ', ''))) / 4 AS stp
        | FROM documents)
        |SELECT doc_id,
        | (nc >= 100 AND nt >= 20 AND stp / nt > 0.0) AS keep
        |FROM t""".stripMargin,
    "q55_redact_numbers" ->
      """SELECT event_id, regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted
        |FROM events""".stripMargin,
    "q56_profile" ->
      """SELECT count(*) AS n_rows,
        | CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
        | count(DISTINCT l_partkey) AS part_distinct,
        | round(min(l_extendedprice), 4) AS price_min,
        | round(max(l_extendedprice), 4) AS price_max,
        | round(avg(l_quantity), 4) AS qty_avg
        |FROM lineitem""".stripMargin,
    "q57_salted_join" ->
      """WITH dim AS (
        | SELECT DISTINCT user_id % 5 AS k FROM events),
        |labeled AS (
        | SELECT k, concat('seg_', CAST(k AS VARCHAR)) AS k_label FROM dim)
        |SELECT k_label, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events e JOIN labeled l ON e.user_id % 5 = l.k
        |GROUP BY k_label""".stripMargin,
    "q58_top_bigrams" ->
      """WITH toks AS (
        | SELECT string_split(text, ' ') AS l FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bigrams AS (
        | SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |   i -> concat(l[i], ' ', l[i + 1]))) AS bigram
        | FROM toks),
        |counts AS (
        | SELECT bigram, count(*) AS cnt FROM bigrams GROUP BY bigram)
        |SELECT bigram, cnt, rnk FROM (
        | SELECT bigram, cnt, row_number() OVER (ORDER BY cnt DESC, bigram) AS rnk
        | FROM counts) t
        |WHERE rnk <= 20""".stripMargin,
    "q59_clip_percentile" ->
      """WITH b AS (
        | SELECT quantile_cont(value, 0.01) AS lo, quantile_cont(value, 0.99) AS hi
        | FROM events)
        |SELECT event_id,
        | round(CASE WHEN value < lo THEN lo WHEN value > hi THEN hi
        |            ELSE value END, 4) AS value_clipped
        |FROM events, b""".stripMargin,
    "q60_hash_sample" ->
      """SELECT event_type, count(*) AS sampled_cnt, round(sum(value), 2) AS sampled_sum
        |FROM events
        |WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |GROUP BY event_type""".stripMargin,
    "q61_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(avg(l_quantity), 4) AS avg_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q62_semi_anti" ->
      """SELECT 'with_orders' AS segment, count(*) AS cnt FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS segment, count(*) AS cnt FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q63_grouped_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS parts,
        | count(DISTINCT l_suppkey) AS supps, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q64_intersect_except" ->
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000)
        |SELECT o_custkey, 'intersect' AS set_op FROM (SELECT * FROM f INTERSECT SELECT * FROM big) t1
        |UNION ALL
        |SELECT o_custkey, 'except' AS set_op FROM (SELECT * FROM f EXCEPT SELECT * FROM big) t2""".stripMargin,
    "q65_string_agg" ->
      """SELECT l_returnflag,
        | string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // E1 composed pipeline — same stage chain as the Spark side, one CTE
    // per stage. Group fills are expressed as GROUP-BY fill tables +
    // equality LEFT JOIN (not windows) to mirror Spark's join-based
    // operators exactly: a NULL group key matches nothing in either
    // engine. A10's first-INCLUDING-null uses the struct arg_min trick
    // (a struct argument is never NULL, so the aggregate can't skip it).
    "q66_tree_pipeline_e2e" ->
      """WITH raw AS (
        | SELECT event_id, user_id, value, props,
        |  CASE WHEN event_id % 97 = 0 THEN '  ' ELSE event_type END AS etype,
        |  CASE WHEN event_id % 13 = 0 THEN NULL
        |       ELSE 'p' || CAST(user_id % 7 AS VARCHAR) END AS pied,
        |  CASE WHEN event_id % 11 = 0 THEN NULL
        |       ELSE 's' || CAST(user_id % 5 AS VARCHAR) END AS situ,
        |  CASE WHEN event_id % 17 = 0 THEN NULL
        |       ELSE 'v' || CAST(user_id % 3 AS VARCHAR) END AS ville,
        |  CASE WHEN event_id % 101 = 0 THEN NULL ELSE value END AS vreq
        | FROM events),
        |p1 AS (SELECT * REPLACE (nullif(trim(etype), '') AS etype) FROM raw),
        |p2 AS (SELECT DISTINCT * FROM p1),
        |p3 AS (SELECT * EXCLUDE (rn) FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, etype
        |    ORDER BY event_id) AS rn FROM p2) t WHERE rn = 1),
        |p4 AS (SELECT * FROM p3 WHERE vreq IS NOT NULL),
        |p6 AS (SELECT *, 'Orthophoto' AS src FROM p4),
        |p7 AS (SELECT * REPLACE (CASE WHEN value > 400
        |  THEN CAST(300.0 AS DOUBLE) ELSE value END AS value) FROM p6),
        |p8 AS (SELECT event_id, user_id, etype, value, src, pied, situ, ville FROM p7),
        |f2 AS (SELECT * REPLACE (replace(etype, 'click', 'tap') AS etype) FROM p8),
        |p10 AS (SELECT * FROM f2 WHERE etype <> 'error' OR etype IS NULL),
        |-- first-char title case == Spark's per-WORD TitleCase only because
        |-- event_type values are single words with no separators (domain
        |-- assumption; a value like 'page_view' would diverge: Spark
        |-- 'Page_View' vs this 'Page_view')
        |f3 AS (SELECT * REPLACE (
        |  upper(substr(etype, 1, 1)) || lower(substr(etype, 2)) AS etype) FROM p10),
        |a9f AS (SELECT etype, arg_min(pied, event_id) AS fp
        |  FROM f3 WHERE pied IS NOT NULL GROUP BY etype),
        |a9 AS (SELECT f3.* REPLACE (coalesce(f3.pied, a9f.fp) AS pied)
        |  FROM f3 LEFT JOIN a9f ON f3.etype = a9f.etype),
        |a10f AS (SELECT etype, arg_min({'v': situ}, event_id).v AS fs
        |  FROM a9 GROUP BY etype),
        |a10 AS (SELECT a9.* REPLACE (coalesce(a9.situ, a10f.fs) AS situ)
        |  FROM a9 LEFT JOIN a10f ON a9.etype = a10f.etype),
        |mf AS (SELECT etype, ville AS fv FROM (
        |  SELECT etype, ville, row_number() OVER (PARTITION BY etype
        |    ORDER BY count(*) DESC, ville ASC) AS rn
        |  FROM a10 WHERE ville IS NOT NULL GROUP BY etype, ville) t WHERE rn = 1),
        |a7 AS (SELECT a10.* REPLACE (coalesce(a10.ville, mf.fv) AS ville)
        |  FROM a10 LEFT JOIN mf ON a10.etype = mf.etype)
        |SELECT event_id, user_id, coalesce(etype, 'Inconnue') AS etype,
        | value, src, coalesce(pied, 'Inconnue') AS pied,
        | coalesce(situ, 'Inconnue') AS situ, coalesce(ville, 'Inconnue') AS ville
        |FROM a7""".stripMargin,
    // Stateful-streaming oracle = the batch gap-sessionization (q31's CTE)
    // restricted to the sessions the AvailableNow run provably closes.
    // Derivation (StreamingSpec's "stateful emits exactly the provably
    // closed sessions" case asserts it in-engine):
    //  1. All events arrive in ONE microbatch (single parquet file), so
    //     every session except each user's LAST is closed inline by the
    //     gap rule and emitted.
    //  2. AvailableNow then runs a final batch with the watermark advanced
    //     to floor(max event-time in ms) - gapMs. A user's still-open last
    //     session times out iff its timeout timestamp
    //     (floor(epoch-seconds(last event)) * 1000 + gapMs) is STRICTLY
    //     below that watermark (Spark fires timers on `ts < watermark`).
    // Hence: emit all sessions EXCEPT a user's last one whose
    // last_ts*1000 + gapMs >= max_ms - gapMs. Second-truncation of
    // last_ts mirrors the implementation's unix_timestamp; max_ms keeps
    // millisecond precision like Spark's watermark tracker.
    "q67_sessionize_stateful" ->
      """WITH e AS (
        | SELECT user_id, event_id, ts, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |s AS (
        | SELECT *, CASE WHEN prev_ts IS NULL
        |   OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |x AS (
        | SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        | FROM s),
        |sess AS (
        | SELECT user_id, session_seq, count(*) AS n_events,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  round(sum(value), 4) AS session_value,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts
        | FROM x GROUP BY user_id, session_seq),
        |sess2 AS (
        | SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS max_seq FROM sess),
        |wm AS (SELECT CAST(floor(epoch(max(ts)) * 1000) AS BIGINT) - 1800000 AS wm_ms
        |  FROM events)
        |SELECT user_id, session_seq, n_events, session_start, session_value
        |FROM sess2, wm
        |WHERE session_seq < max_seq OR last_ts * 1000 + 1800000 < wm_ms""".stripMargin,
    // S1 CSV-scan parity: same committed fixture, explicit column types
    // mirroring the declared Spark schema (DuckDB's default nullstr=''
    // matches Spark's nullValue='' for the blank cells). Path is the
    // runtime-resolved fixture location, not a hardcoded literal, so the
    // gate works from any checkout directory.
    "q68_csv_scan" -> csvFixtureOracleSql,
    // Same float→double widening, same +0.05 double perturbation, same
    // sequential-left-fold dot/norm order as the Spark side (q27 proved
    // list_reduce ≡ aggregate() fold parity to the last bit); round(6) on
    // both sides absorbs nothing — values match exactly, rounding is only
    // display normalization.
    "q69_cosine_neardup" ->
      """WITH base AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |dups AS (
        | SELECT vec_id + 100000 AS vec_id, list_concat([v[1] + 0.05], v[2:64]) AS v
        | FROM base WHERE vec_id % 50 = 0),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
        |p AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))) AS cos_sim
        | FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos_sim, 6) AS cos_sim
        |FROM p WHERE cos_sim >= 0.99""".stripMargin,
    // True connected components of the jaccard>=0.5 graph via recursive
    // CTE min-label reachability: a (node, label) pair is kept only while
    // label < node (labels only flow downhill), so the fixpoint's
    // min(label) per node is exactly the component minimum — the same
    // fixpoint canonicalizeExact's min-label propagation converges to.
    // Shingling mirrors q34's string-shingle equivalence to the hashed
    // Spark-side shingles (windows of 2, max(len-1,1), distinct).
    "q70_canonicalize_exact" ->
      """WITH RECURSIVE toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(
        |   list_transform(range(1, greatest(len(t) - 1, 1) + 1),
        |     i -> array_to_string(t[i : i + 1], ' '))) AS s
        | FROM toks),
        |pairs AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |e AS (SELECT ia AS a, ib AS b FROM pairs
        |      UNION ALL SELECT ib, ia FROM pairs),
        |cc(node, label) AS (
        | SELECT doc_id, doc_id FROM documents
        | UNION
        | SELECT e.a, cc.label FROM e JOIN cc ON cc.node = e.b
        | WHERE cc.label < e.a)
        |SELECT node AS doc_id, min(label) AS canonical_id
        |FROM cc GROUP BY node""".stripMargin,
    "q71_drop_prefix" ->
      "SELECT doc_id, text, lang, source FROM documents",
    // S2/S3 round-trip parity: a lossless sink+re-read must equal the
    // ORIGINAL fixture, so the oracle is identical to q68's.
    "q72_csv_roundtrip" -> csvFixtureOracleSql,
    // IVF-flat ANN replayed exactly: centroids = the 16 lowest-id corpus
    // vectors; assignment/probing use the same sequential-fold cosine as
    // q27 (parity proven) with the same (cos desc, cent_id asc)
    // tie-breaks as Spark's struct-greatest / array_sort expressions;
    // each corpus row lands in exactly one cell, so no dedup is needed.
    "q73_ann_ivf" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |n AS (
        | SELECT vec_id, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
        | FROM e),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv, nrm AS nn FROM n WHERE vec_id >= 5),
        |cent AS (SELECT neighbor_id AS cent_id, nv AS cv, nn AS cn FROM c
        |         ORDER BY neighbor_id LIMIT 16),
        |asg AS (
        | SELECT neighbor_id, nv, nn, cent_id AS cell FROM (
        |  SELECT c.neighbor_id, c.nv, c.nn, cent.cent_id,
        |   row_number() OVER (PARTITION BY c.neighbor_id ORDER BY
        |     (list_reduce(list_transform(list_zip(c.nv, cent.cv), z -> z[1] * z[2]),
        |        (x, y) -> x + y) / (c.nn * cent.cn)) DESC,
        |     cent.cent_id ASC) AS rn
        |  FROM c CROSS JOIN cent) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
        |pr AS (
        | SELECT query_id, qv, qn, cent_id AS cell FROM (
        |  SELECT q.query_id, q.qv, q.qn, cent.cent_id,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |     (list_reduce(list_transform(list_zip(q.qv, cent.cv), z -> z[1] * z[2]),
        |        (x, y) -> x + y) / (q.qn * cent.cn)) DESC,
        |     cent.cent_id ASC) AS rn
        |  FROM q CROSS JOIN cent) WHERE rn <= 4),
        |p AS (
        | SELECT query_id, neighbor_id,
        |  list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (qn * nn) AS cos_sim
        | FROM pr JOIN asg USING (cell)),
        |r AS (
        | SELECT query_id, neighbor_id, cos_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
        | FROM p)
        |SELECT query_id, neighbor_id, rnk, round(cos_sim, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,
    // Frame sampling parity: mediaFromText payload = UTF-8(text) over an
    // ASCII corpus, so Spark's binary substr on the payload equals
    // DuckDB's substr on the text; range(0, n, 4) = sequence(0, n-1, 4).
    "q74_frame_sample" ->
      """WITH f AS (
        | SELECT doc_id AS media_id, text,
        |  CAST(floor(length(text) / 64) AS INT) AS n_frames FROM documents)
        |SELECT media_id, n_frames, CAST(u.i AS INT) AS frame_idx,
        | substr(text, CAST(u.i AS INT) * 64 + 1, 64) AS frame_text
        |FROM f, unnest(range(0, n_frames, 4)) u(i)
        |WHERE n_frames > 0""".stripMargin,
    // Stream-static enrichment == the plain batch join (single
    // AvailableNow microbatch); round(sum,4) is the q29-established
    // tolerance for order-dependent float aggregation.
    "q75_stream_static_join" ->
      """WITH u AS (
        | SELECT user_id, count(*) AS user_cnt, round(sum(value), 4) AS user_total
        | FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, u.user_cnt, u.user_total
        |FROM events e JOIN u USING (user_id)""".stripMargin,
    // q76 is q28 through the SQL surface — same result, same oracle.
    "q76_lambert93_sql" -> lambertOracle,
    // Streaming dedup on (user_id, event_type): the per-type survivor count
    // is exactly the distinct key count, independent of arrival order.
    "q77_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS cnt
        |FROM events GROUP BY event_type""".stripMargin,
    // Winnowing replayed bit-for-bit: 3-token shingles hashed with q32's
    // md5p61 base (md5_number_lower mod 2^61-1, values < 2^61 so signed
    // BIGINT order = unsigned), window minima over w=4 consecutive shingle
    // hashes with the same clamping as Spark's slice(), list_distinct, then
    // the identical postings self-join with the df<=64 fingerprint cap.
    "q78_winnow_neardup" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 1) + 1),
        |   i -> array_to_string(t[i : i + 2], ' ')) AS s
        | FROM toks),
        |bs AS (
        | SELECT doc_id, list_transform(s,
        |   x -> (md5_number_lower(x) % 2305843009213693951::UBIGINT)::BIGINT) AS h
        | FROM sh),
        |fp AS (
        | SELECT doc_id, unnest(list_distinct(
        |   list_transform(range(0, greatest(len(h) - 4, 0) + 1),
        |     j -> list_min(h[j + 1 : j + 4])))) AS fp
        | FROM bs),
        |kept AS (
        | SELECT doc_id, fp FROM (
        |  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fp)
        | WHERE df <= 64)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 8""".stripMargin,
    // TF-IDF with the rational idf N/df: integer counts and one
    // correctly-rounded division — bit-exact cross-engine (see the Spark
    // side for why ln() is deliberately avoided).
    "q79_tfidf_topk" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        | SELECT doc_id, term, tf, df_docs,
        |  tf * (CAST(n_docs AS DOUBLE) / df_docs) AS score
        | FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (
        | SELECT doc_id, term, tf, df_docs, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS INT) AS rnk
        | FROM sc)
        |SELECT doc_id, term, tf, df_docs, rnk, round(score, 6) AS tfidf
        |FROM r WHERE rnk <= 3""".stripMargin,
    // The partition-pruned re-read aggregates exactly what a date filter on
    // the original computes (UTC session on the Spark side = DuckDB's naive
    // timestamps, the q29-established parity).
    "q80_partition_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt, event_type,
        | count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
        |GROUP BY 1, 2""".stripMargin,
    // Int8 quantization replayed exactly: scale = list_max(|x|)/127 and
    // code = floor(x/scale + 0.5) are correctly-rounded IEEE ops; the code
    // dot/norms are pure integer arithmetic, so the only doubles in the
    // final cosine are one sqrt and one division — both correctly rounded,
    // hence bit-identical to Spark's.
    "q81_quantized_ann" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |s AS (
        | SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        | FROM e WHERE list_max(list_transform(v, x -> abs(x))) / 127.0 > 0),
        |qz AS (
        | SELECT vec_id,
        |  list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
        | FROM s),
        |nm AS (
        | SELECT vec_id, qv,
        |  sqrt(CAST(list_reduce(list_transform(qv, x -> x * x),
        |    (x, y) -> x + y) AS DOUBLE)) AS qn
        | FROM qz),
        |q AS (SELECT vec_id AS query_id, qv AS qa, qn AS qan FROM nm WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, qv AS qb, qn AS qbn FROM nm WHERE vec_id >= 5),
        |p AS (
        | SELECT query_id, neighbor_id,
        |  CAST(list_reduce(list_transform(list_zip(qa, qb), z -> z[1] * z[2]),
        |    (x, y) -> x + y) AS DOUBLE) / (qan * qbn) AS qcos
        | FROM q CROSS JOIN c),
        |r AS (
        | SELECT query_id, neighbor_id, qcos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY qcos DESC, neighbor_id) AS INT) AS rnk
        | FROM p)
        |SELECT query_id, neighbor_id, rnk, round(qcos, 6) AS qcos
        |FROM r WHERE rnk <= 5""".stripMargin,
    // The stream-stream interval join == the batch interval join (inner
    // join emission is watermark-independent; single AvailableNow batch).
    // Epoch seconds floored on both engines before differencing.
    "q82_stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        | CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT)
        |   AS secs_to_purchase,
        | p.value AS purchase_value
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,
    // Round-trip fidelity: the re-read must equal the ORIGINAL table, so
    // the oracle is simply the original (the q72 pattern for JSONL).
    "q83_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents"
  )
}
