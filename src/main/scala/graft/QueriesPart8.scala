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

/** Queries q337–q367 (31 entries) — merge audit, multi-measure pivot, dedup scorecard, rank tests
  * (Kruskal-Wallis..Friedman), indicators (ATR/RSI/AP), stylometry.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart8 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // Reciprocal-rank fusion of BM25 and query-likelihood (Dirichlet)
    // rankings — the standard hybrid-retrieval merge (Cormack et al.
    // 2009): RRF(d) = Σ 1/(60+rankᵢ(d)) over each ranking's TOP-20 ONLY,
    // so the fused relation is bounded at 40 rows regardless of corpus
    // size (both top-20s ride TakeOrderedAndProject; missing membership
    // contributes 0, the truncated-list convention). Ranks come from
    // total orders; 1/(60+r) is exact-int division.
    "q337_rrf_fusion" -> ((s, d) => {
      val terms = Seq("vector", "join", "scan")
      val bm = graft.text.Bm25.topK(doc(s, d), "doc_id", "text", terms, 20)
        .select(col("doc_id"), col("rnk").as("r_bm25"))
      val t = doc(s, d).select(col("doc_id"), split(col("text"), " ").as("w"))
      val dstats = t.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        filter(col("w"), x => x === terms(0)).as("__f1"),
        filter(col("w"), x => x === terms(1)).as("__f2"),
        filter(col("w"), x => x === terms(2)).as("__f3"))
        .select(col("doc_id"), col("dl"),
          size(col("__f1")).cast("long").as("tf1"),
          size(col("__f2")).cast("long").as("tf2"),
          size(col("__f3")).cast("long").as("tf3"))
      val c = dstats.agg(sum(col("dl")).as("ct"), sum(col("tf1")).as("cf1"),
        sum(col("tf2")).as("cf2"), sum(col("tf3")).as("cf3"))
      def term(tf: Column, cf: Column, dl: Column, ct: Column): Column =
        log((tf.cast("double") + lit(2000.0) * cf / ct)
          / (dl.cast("double") + 2000.0))
      val qld = dstats.crossJoin(broadcast(c))
        .select(col("doc_id"), round(
          term(col("tf1"), col("cf1"), col("dl"), col("ct"))
            + term(col("tf2"), col("cf2"), col("dl"), col("ct"))
            + term(col("tf3"), col("cf3"), col("dl"), col("ct")), 6).as("qld"))
        .orderBy(col("qld").desc, col("doc_id").asc).limit(20)
        .withColumn("r_qld", row_number().over(
          Window.orderBy(col("qld").desc, col("doc_id").asc)).cast("long"))
        .select("doc_id", "r_qld")
      bm.join(qld, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (col("r_bm25") + 60), lit(0.0))
            + coalesce(lit(1.0) / (col("r_qld") + 60), lit(0.0))).as("__s"),
          col("r_bm25"), col("r_qld"))
        .orderBy(col("__s").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"), round(col("__s"), 6).as("rrf_score"),
          col("r_bm25"), col("r_qld"))
    }),
    // Population stability index between the first and second half of the
    // event window — THE production drift metric for "did the value
    // distribution move between reference and current?" (PSI > 0.2 =
    // retrain). Fixed-width cent buckets (never reference-quantile edges,
    // whose float cutpoints drift between engines); Laplace-smoothed
    // shares so empty cells stay finite; shares are exact-integer ratios,
    // each bucket's (p−q)·ln(p/q) term rounds 6 dp, and the sum runs over
    // the ≤|value-range/50| bucket relation. One scan + one bucket agg.
    "q338_psi_drift" -> ((s, d) => {
      val dlo = ev(s, d).agg(
        min(expr("unix_micros(ts) DIV 86400000000")).as("d0"))
      val bucketed = ev(s, d).crossJoin(broadcast(dlo))
        .select(expr("CAST(round(value * 100) AS BIGINT) DIV 5000").as("bucket"),
          (expr("unix_micros(ts) DIV 86400000000") < col("d0") + 15)
            .as("is_ref"))
      val bk = bucketed.groupBy("bucket").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cb"))
      val tot = bk.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("k"))
      val terms = bk.crossJoin(broadcast(tot))
        .select(col("na"), col("nb"), col("k"),
          ((col("ca") + 1).cast("double") / (col("na") + col("k"))).as("p"),
          ((col("cb") + 1).cast("double") / (col("nb") + col("k"))).as("q"))
        .select(col("na"), col("nb"), col("k"),
          round((col("p") - col("q")) * log(col("p") / col("q")), 6)
            .as("term"))
      terms.groupBy("na", "nb", "k").agg(round(sum(col("term")), 4).as("psi"))
        .select(col("na").as("n_ref"), col("nb").as("n_cur"),
          col("k").as("n_buckets"), col("psi"))
    }),
    // Seasonal-naive forecast scorecard over the hourly series — MAE,
    // sMAPE, and MASE of ŷ_t = y_{t−24}, the baseline every real forecast
    // must beat (MASE < 1 = better than the one-step naive). Absolute
    // errors are exact integers, so MAE and MASE are deterministic
    // rationals; sMAPE's per-row ratio is exact-int over exact-int and
    // its mean follows the q125 sum-then-round precedent. Two lag windows
    // over the span-bounded hour relation; one agg.
    "q339_forecast_eval" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy("h")
      val lagd = hourly.select(col("c"),
        lag(col("c"), 24).over(w).as("sn"), lag(col("c"), 1).over(w).as("nv"))
      val m = lagd.agg(
        sum(when(col("sn").isNotNull, abs(col("c") - col("sn")))).as("se"),
        sum(when(col("sn").isNotNull, 1L)).as("ne"),
        sum(when(col("sn").isNotNull && col("c") + col("sn") > 0,
          lit(2.0) * abs(col("c") - col("sn"))
            / (col("c") + col("sn")))).as("sm"),
        sum(when(col("sn").isNotNull && col("c") + col("sn") > 0, 1L))
          .as("nm"),
        sum(when(col("nv").isNotNull, abs(col("c") - col("nv")))).as("s1"),
        sum(when(col("nv").isNotNull, 1L)).as("n1"))
      m.select(col("ne").as("n_eval"),
        round(col("se").cast("double") / col("ne"), 4).as("mae"),
        round(col("sm") / col("nm"), 4).as("smape"),
        when(col("s1") > 0, round((col("se").cast("double") / col("ne"))
          / (col("s1").cast("double") / col("n1")), 4)).as("mase"))
    }),
    // Split-conformal prediction interval for a per-type mean model —
    // the distribution-free "how wide must the interval be for 90%
    // coverage?" primitive (Vovk; Angelopoulos & Bates 2021). Model =
    // per-event-type cents mean on the reference half; nonconformity =
    // |residual| on the calibration half; q̂ = the ⌈0.9(n+1)⌉-th order
    // statistic — an EXACT integer-rank selection over the two-phase
    // prefix device (no global sort), k in pure integer arithmetic.
    // Scores are rounded 6 dp before grouping so both engines select
    // from identical keys.
    "q340_conformal_interval" -> ((s, d) => {
      val d0e = ev(s, d).agg(
        min(expr("unix_micros(ts) DIV 86400000000")).as("d0"))
      val base = ev(s, d).crossJoin(broadcast(d0e)).select(
        col("event_type").as("et"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"),
        (expr("unix_micros(ts) DIV 86400000000") < col("d0") + 15)
          .as("is_ref"))
      val mod = base.filter(col("is_ref")).groupBy("et")
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
      val cal = base.filter(!col("is_ref")).join(mod, Seq("et"))
        .select(round(abs(col("c").cast("double")
          - col("s").cast("double") / col("n")), 6).as("sc"))
      val byS = cal.groupBy("sc").agg(count(lit(1)).as("t"))
      val nk = byS.agg(sum(col("t")).as("ncal"))
      val pp = graft.operators.GlobalRank.exclusivePrefixSum(byS, "sc", "t")
      val qhat = pp.crossJoin(broadcast(nk))
        .filter(expr("cum_before + t >= (9 * (ncal + 1) + 9) DIV 10"))
        .agg(min(col("sc")).as("qhat"))
      val cov = byS.crossJoin(broadcast(qhat))
        .filter(col("sc") <= col("qhat")).agg(sum(col("t")).as("cnt"))
      qhat.crossJoin(broadcast(nk)).crossJoin(broadcast(cov))
        .select(col("ncal").as("n_cal"), round(col("qhat"), 6).as("qhat"),
          round(col("cnt").cast("double") / col("ncal"), 6).as("coverage"))
    }),
    // Eigenvector centrality by power iteration on the customer–supplier
    // graph — the influence measure PageRank's teleport mass distorts
    // (pure A·x with max-normalization instead). Three unrolled
    // iterations under the q133/q105 intermediate-rounding rule (each
    // neighbor-sum and each normalization rounded 8 dp, so both engines
    // enter every round with identical bits and a SQL oracle replays the
    // whole computation). Per round: one src-join + one dst-agg; the
    // checkpointed edge table is pre-partitioned on src so only the
    // node-cardinality score table moves.
    "q341_eigenvector_centrality" -> ((s, d) => {
      val eo = ord(s, d).select(col("o_orderkey"), col("o_custkey"))
        // measured at sf100 (r16): a shuffled-hash build on the unique
        // orders side trades the lineitem SMJ sort for hash-build CPU and
        // LOSES (wall 223 -> 294 s, cpu +30%, spill only -10%) — the
        // planner's sort-merge is the right construction join here
        .join(li(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
      // explode-symmetrize (graph/EdgeLayout): both directions in ONE
      // pass over the construction join — a union of swapped projections
      // would recompute the orders⋈lineitem SMJ per branch
      val edges = graft.graph.EdgeLayout.symmetrize(eo, "cust", "supp")
      // dedup AFTER the repartition as a streaming window over the
      // sorted run (graph/EdgeLayout): one full-edge shuffle instead of
      // the old distinct-then-repartition pair, sort-only stage memory
      // CHAINED edge persist (r18): round 1's sums aggregate — the edge
      // checkpoint's single linear consumer — materializes both caches in
      // one job (the PageRank.iterate seam).
      val e = graft.io.Checkpoints.truncateLayoutPreservingChained(
        graft.graph.EdgeLayout.partitionedDistinct(edges, "src", "dst"))
      var x: org.apache.spark.sql.DataFrame = null
      for (r <- 1 to 3) {
        // MATERIALIZE the node-cardinality sums table each round: the
        // max-normalization reads sums twice, so an unrolled lineage
        // doubles the replay count per round — 2^rounds re-executions of
        // the heavy edge-join stages by round 3 (measured at sf10: 560 GB
        // of re-sort/re-agg spill, 5x shuffle re-reads). The persist's
        // materializing action computes the round's max (r18): one job
        // per round instead of checkpoint-then-broadcast, and the
        // normalizer is a plan literal (deterministic max of rounded
        // sums). Round 1 is collapsed algebraically: x₀ is 1.0 on every
        // src and every edge row matches its src's x₀ row, so raw(dst) is
        // just the per-dst sum of 1.0 — the distinct pass and its join
        // are gone, value-identical (sums of exact 1.0s).
        val rawAgg =
          if (r == 1)
            e.groupBy(col("dst").as("node"))
              .agg(round(sum(lit(1.0)), 8).as("raw"))
          else
            e.join(x.select(col("node").as("src"), col("score")),
                Seq("src"))
              .groupBy(col("dst").as("node"))
              .agg(round(sum(col("score")), 8).as("raw"))
        val (sums, mRow) = graft.io.Checkpoints.truncateLayoutPreservingAgg(
          rawAgg)(_.agg(max(col("raw"))).head())
        val m = if (mRow.isNullAt(0)) lit(null).cast("double")
                else lit(mRow.getDouble(0))
        x = sums.select(col("node"), round(col("raw") / m, 8).as("score"))
      }
      x.select(col("node"), round(col("score"), 6).as("score"))
    }),
    // McNemar's paired test (Edwards continuity correction) between two
    // threshold classifiers on the SAME events — the correct way to ask
    // "is model B actually better than model A?" on paired predictions
    // (a two-proportion z on overlapping samples is wrong). b/c discordant
    // counts and (|b−c|−1)² are exact integers — χ² is one deterministic
    // division. One scan, one agg; b=c yields the standard 1/(b+c).
    "q342_mcnemar" -> ((s, d) => {
      val base = ev(s, d).select(
        (col("event_type") === "purchase").as("y"),
        (expr("CAST(round(value * 100) AS BIGINT)") > 10000L).as("pa"),
        (expr("CAST(round(value * 100) AS BIGINT)") > 15000L).as("pb"))
      base.agg(count(lit(1)).as("n"),
          sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
            .otherwise(0L)).as("c"),
          sum(when(col("pa") === col("y"), 1L).otherwise(0L)).as("oka"),
          sum(when(col("pb") === col("y"), 1L).otherwise(0L)).as("okb"))
        .select(col("n").as("n_paired"), col("b").as("b_only_a"),
          col("c").as("c_only_b"),
          round(col("oka").cast("double") / col("n"), 6).as("acc_a"),
          round(col("okb").cast("double") / col("n"), 6).as("acc_b"),
          when(col("b") + col("c") > 0, round(
            ((abs(col("b") - col("c")) - 1) * (abs(col("b") - col("c")) - 1))
              .cast("double") / (col("b") + col("c")), 4))
            .as("mcnemar_chi2"))
    }),
    // Haversine nearest-site assignment + distance-ring histogram — the
    // geo primitive beside X1's Lambert-93: event points (coords derived
    // deterministically from the row, q28's device) against a 5-row
    // broadcast site table; per-point nearest is a 5-row window, rings
    // are integer buckets of the 6dp-rounded distance. The point→small-dim
    // cross join is the canonical geo-join shape (fanout |sites|, never
    // point²); trig parity rides the same rounding contract Lambert-93
    // has proven for ten rounds.
    "q343_haversine_sites" -> ((s, d) => {
      val pts = ev(s, d).select(col("event_id"),
        (lit(43.0) + (col("user_id") % 1000) * lit(0.006)).as("lat"),
        (lit(-1.0) + (expr("CAST(round(value * 100) AS BIGINT)") % 600)
          * lit(0.01)).as("lon"))
      val sites = s.range(1).select(explode(array(
        struct(lit(1L).as("site_id"), lit(48.8566).as("slat"), lit(2.3522).as("slon")),
        struct(lit(2L).as("site_id"), lit(45.764).as("slat"), lit(4.8357).as("slon")),
        struct(lit(3L).as("site_id"), lit(43.2965).as("slat"), lit(5.3698).as("slon")),
        struct(lit(4L).as("site_id"), lit(50.6292).as("slat"), lit(3.0573).as("slon")),
        struct(lit(5L).as("site_id"), lit(44.8378).as("slat"), lit(-0.5792).as("slon"))))
        .as("st")).select(col("st.*"))
      val sh = sin(radians(col("slat") - col("lat")) / 2)
      val sl = sin(radians(col("slon") - col("lon")) / 2)
      val dist = round(lit(2.0 * 6371.0088) * asin(least(lit(1.0),
        sqrt(sh * sh + cos(radians(col("lat"))) * cos(radians(col("slat")))
          * (sl * sl)))), 6)
      val assigned = pts.crossJoin(broadcast(sites))
        .select(col("event_id"), col("site_id"), dist.as("dist_km"))
        .withColumn("rn", row_number().over(Window.partitionBy("event_id")
          .orderBy(col("dist_km").asc, col("site_id").asc)))
        .filter(col("rn") === 1)
      assigned.groupBy(col("site_id"),
          floor(col("dist_km") / 100).cast("long").as("ring"))
        .agg(count(lit(1)).as("cnt"))
    }),
    // Survivorship merge (golden record) — the entity-resolution step
    // AFTER matching: clusters (here the custkey-bucket entity) collapse
    // to one canonical row under explicit field rules — best-source name
    // (max acctbal, custkey tiebreak), min key as canonical id, cents-
    // exact balance total, mode segment with alphabetical tiebreak. Each
    // rule is one window or agg partitioned by entity — group-bounded,
    // no cross-entity state; this is exactly the q3-keep-first contract
    // generalized to per-field policies.
    "q344_golden_record" -> ((s, d) => {
      val c = Tables.customer(s, d).withColumn("entity",
        expr("c_custkey DIV 10"))
      val best = c.withColumn("rn", row_number().over(
          Window.partitionBy("entity")
            .orderBy(col("c_acctbal").desc, col("c_custkey").asc)))
        .filter(col("rn") === 1)
        .select(col("entity"), col("c_name").as("golden_name"))
      val segs = c.groupBy("entity", "c_mktsegment")
        .agg(count(lit(1)).as("sc"))
        .withColumn("rn", row_number().over(Window.partitionBy("entity")
          .orderBy(col("sc").desc, col("c_mktsegment").asc)))
        .filter(col("rn") === 1)
        .select(col("entity"), col("c_mktsegment").as("seg_mode"))
      val aggd = c.groupBy("entity").agg(
        min(col("c_custkey")).as("canonical_key"),
        count(lit(1)).as("n_records"),
        sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("__cents"))
      aggd.join(best, Seq("entity")).join(segs, Seq("entity"))
        .select(col("entity"), col("canonical_key"), col("n_records"),
          col("golden_name"), col("seg_mode"),
          (col("__cents").cast("double") / 100.0).as("total_bal"))
    }),
    // Multi-class F1 scorecard — per-class precision/recall/F1 from the
    // confusion counts of a deterministic cents-bucket classifier over
    // event_type, with micro-F1 (= accuracy in single-label multi-class)
    // and macro-F1 (mean per-class, absent classes score 0) attached.
    // Everything through the F1 ratio is exact integers; the macro mean
    // runs over the ≤|classes| bounded relation. One scan → one k²-max
    // confusion agg.
    "q345_multiclass_f1" -> ((s, d) => {
      val pred = expr("""CASE
        WHEN CAST(round(value * 100) AS BIGINT) < 5000 THEN 'view'
        WHEN CAST(round(value * 100) AS BIGINT) < 10000 THEN 'click'
        WHEN CAST(round(value * 100) AS BIGINT) < 15000 THEN 'signup'
        WHEN CAST(round(value * 100) AS BIGINT) < 20000 THEN 'error'
        ELSE 'purchase' END""")
      val base = ev(s, d).select(col("event_type").as("truth"),
        pred.as("pred"))
      val classes = base.select(col("truth").as("cls")).distinct()
      val byCls = classes
        .join(base.groupBy(col("truth").as("cls"))
          .agg(count(lit(1)).as("n_true")), Seq("cls"), "left")
        .join(base.filter(col("truth") === col("pred"))
          .groupBy(col("truth").as("cls")).agg(count(lit(1)).as("tp")),
          Seq("cls"), "left")
        .join(base.groupBy(col("pred").as("cls"))
          .agg(count(lit(1)).as("n_pred")), Seq("cls"), "left")
        .select(col("cls"), coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
            .as("fp"),
          (col("n_true") - coalesce(col("tp"), lit(0L))).as("fn"))
      val scored = byCls.select(col("cls"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn"))).as("rec"))
        // null prec (no predictions) forces tp=0 ⇒ rec=0; the null
        // condition falls through to the 0.0 branch on BOTH engines
        .withColumn("f1", when(col("prec") + col("rec") > 0,
          lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec")))
          .otherwise(lit(0.0)))
      val overall = scored.agg(
        round(sum(col("tp")).cast("double")
          / (sum(col("tp")) + sum(col("fn"))), 6).as("micro_f1"),
        round(avg(col("f1")), 6).as("macro_f1"))
      scored.crossJoin(broadcast(overall))
        .select(col("cls"), col("tp"), col("fp"), col("fn"),
          round(col("prec"), 6).as("prec"), round(col("rec"), 6).as("rec"),
          round(col("f1"), 6).as("f1"), col("micro_f1"), col("macro_f1"))
    }),
    // Cumulative gains / lift by score decile — the model-targeting chart
    // ("mailing the top 30% captures what share of buyers?"). Deciles
    // come from the NINE exact percentile cutpoints broadcast back
    // (q123's device — no corpus-wide ntile window); a row's decile is
    // 10 − |{cuts below its score}| via one array filter. Gains/lift
    // accumulate over the bounded 10-row relation in decile order.
    "q346_gains_curve" -> ((s, d) => {
      val base = ev(s, d).select(
        expr("CAST(round(value * 100) AS BIGINT)").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val cuts = base.agg(expr(
        "percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("cuts"))
      val dec = base.crossJoin(broadcast(cuts))
        .select((lit(10) - size(filter(col("cuts"),
          c => col("score") > c))).cast("long").as("decile"), col("pos"))
        .groupBy("decile").agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      dec.select(col("decile"), col("n"), col("p"),
          sum(col("p")).over(w).as("__cum"),
          sum(col("p")).over(tot).as("__tp"), sum(col("n")).over(tot).as("__tn"))
        .select(col("decile"), col("n"), col("p"),
          round(col("__cum").cast("double") / col("__tp"), 6).as("gain"),
          round((col("p").cast("double") / col("n"))
            / (col("__tp").cast("double") / col("__tn")), 6).as("lift"))
    }),
    // Phrase search over the positional postings relation (q118's
    // substrate): the two token scans filter-push onto the postings
    // build (at scale: a bucketed-by-token index → both sides are
    // pruned scans, no full-corpus pass), then one equi-join on
    // (doc_id, adjacent position). Zero similarity math — exact-match
    // retrieval is a join shape, not a scan shape.
    "q347_phrase_search" -> ((s, d) => {
      val toks = doc(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val first = toks.filter(col("w") === "table")
        .select(col("doc_id"), col("pos"))
      val second = toks.filter(col("w") === "hash")
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      first.join(second, Seq("doc_id", "pos"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    }),
    // k-fold cross-validated simple regression WITHOUT iteration: one
    // scan builds per-fold sufficient statistics (exact integer sums —
    // dollars/quantity are whole numbers), the 5-row fold relation
    // gets the grand totals broadcast back, and each fold's
    // OUT-OF-FOLD slope/intercept is (total − fold) arithmetic. Fold
    // RMSE expands Σ(y−a−bx)² from the same six statistics. This is
    // how CV scales: no per-fold re-scan, no model-fit loop. Int64
    // headroom note: sum(y*y) at y~1e5 holds ~9e8 rows per fold before
    // wrapping — fine to TB-scale facts; beyond that, promote the
    // squared sums to DECIMAL(38,0) (DuckDB already promotes to
    // HUGEINT).
    "q348_cv_ols" -> ((s, d) => {
      val b = li(s, d).select(
        ((col("l_orderkey") + col("l_linenumber")) % 5).cast("long")
          .as("fold"),
        // round() before the long cast: Spark's cast truncates while
        // the oracle's CAST rounds — rounding both sides (the y
        // treatment) keeps parity independent of quantity integrality
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice")).cast("long").as("y"))
      val per = b.groupBy("fold").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val tot = per.agg(sum(col("n")).as("tn"), sum(col("sx")).as("tsx"),
        sum(col("sy")).as("tsy"), sum(col("sxx")).as("tsxx"),
        sum(col("sxy")).as("tsxy"))
      val oof = per.crossJoin(broadcast(tot)).select(col("fold"),
        col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"),
        (col("tn") - col("n")).cast("double").as("rn"),
        (col("tsx") - col("sx")).cast("double").as("rsx"),
        (col("tsy") - col("sy")).cast("double").as("rsy"),
        (col("tsxx") - col("sxx")).cast("double").as("rsxx"),
        (col("tsxy") - col("sxy")).cast("double").as("rsxy"))
      val fit = oof.select(col("fold"), col("n"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("syy"), col("rn"), col("rsx"), col("rsy"),
        ((col("rn") * col("rsxy") - col("rsx") * col("rsy")) /
          (col("rn") * col("rsxx") - col("rsx") * col("rsx"))).as("b"))
        .withColumn("a", (col("rsy") - col("b") * col("rsx")) / col("rn"))
      fit.select(col("fold"), col("n"),
          round(col("b"), 6).as("slope"), round(col("a"), 4).as("intercept"),
          round(sqrt((col("syy").cast("double")
            - lit(2.0) * col("a") * col("sy")
            - lit(2.0) * col("b") * col("sxy")
            + col("n") * col("a") * col("a")
            + lit(2.0) * col("a") * col("b") * col("sx")
            + col("b") * col("b") * col("sxx").cast("double"))
            / col("n")), 4).as("rmse"))
        .orderBy("fold")
    }),
    // Isotonic calibration (PAV) — the monotone score→probability map
    // model-serving calibration wants, computed by the minimax identity
    // fit_i = max_{j≤i} min_{k≥i} rate(j..k) (Barlow & Brunk '72) over
    // the BOUNDED score-bin relation: the 100 TB scan collapses to ~20
    // (bin, n, pos) rows FIRST, then the O(b³) pooling runs on a
    // broadcast-bounded table — never on raw rows. Every pooled rate is
    // a quotient of exact integers; the hashed outputs ride integer
    // 1e-6 units (the q93 device), so min/max selection replays
    // bit-for-bit.
    "q349_isotonic_calibration" -> ((s, d) => {
      val b = ev(s, d).select(
        // exact integer FLOOR division (subtract the nonnegative pmod
        // remainder, then DIV is exact): Spark's bare DIV truncates
        // toward zero while the DuckDB oracle's // floors — they only
        // agree on nonnegative scores, and bins must not depend on that
        expr("(CAST(round(value * 100) AS LONG) - " +
          "pmod(CAST(round(value * 100) AS LONG), 1000L)) DIV 1000L")
          .as("bin"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      val bins = b.groupBy("bin").agg(count(lit(1)).as("n"),
        sum(col("pos")).as("p"))
      // running sums over the bin relation (bounded, ≤ ~21 rows — the
      // q346 precedent), never the event stream
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins.select(col("bin"), col("n"), col("p"),
        sum(col("n")).over(w).as("cn"), sum(col("p")).over(w).as("cp"))
      val pj = pre.select(col("bin").as("j"), (col("cp") - col("p")).as("pj0"),
        (col("cn") - col("n")).as("nj0"))
      val pk = pre.select(col("bin").as("k"), col("cp").as("cpk"),
        col("cn").as("cnk"))
      val pairs = pj.join(pk, col("j") <= col("k"))
        .select(col("j"), col("k"), ((col("cpk") - col("pj0")).cast("double")
          / (col("cnk") - col("nj0"))).as("avgr"))
      val idx = bins.select(col("bin").as("i"))
      val fit = pairs.join(idx, col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("j", "i").agg(min(col("avgr")).as("m"))
        .groupBy("i").agg(max(col("m")).as("fit"))
      bins.join(fit, col("bin") === col("i"))
        .select(col("bin"), col("n"), col("p"),
          round(col("p").cast("double") / col("n") * lit(1000000.0d))
            .cast("long").as("raw_e6"),
          round(col("fit") * lit(1000000.0d)).cast("long").as("iso_e6"))
    }),
    // URL decomposition + per-host rollup — the web-corpus curation
    // primitive (domain quotas, host dedup keys, eTLD grouping). URLs
    // are synthesized deterministically from document fields, then
    // host / registered-domain / query-param fall out of three
    // codegen'd regexes in ONE projection pass — no UDF, no shuffle
    // before the final per-host aggregate.
    "q350_url_parse" -> ((s, d) => {
      val u = doc(s, d).select(col("doc_id"), col("lang"),
        concat(lit("https://www."), col("source"), lit(".example.com/"),
          col("lang"), lit("/doc-"), col("doc_id"),
          lit("?ref="), (col("doc_id") % 7).cast("string")).as("url"))
      u.select(
          regexp_extract(col("url"), "^https?://([^/]+)/", 1).as("host"),
          col("lang"), (col("doc_id") % 7).as("ref"))
        .withColumn("domain",
          regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
        .groupBy("host", "domain").agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          round(avg(col("ref")), 4).as("avg_ref"))
    }),
    // HTML → text stripping — the first stage of every web-scrape
    // pipeline: tag removal + entity unescape as two codegen'd
    // regexp/replace chains in a single projection (at 100 TB this is
    // embarrassingly parallel scan work; the only aggregate is the
    // per-source report). Tag count is measured before stripping via
    // exact character arithmetic.
    "q351_html_strip" -> ((s, d) => {
      val h = doc(s, d).select(col("doc_id"), col("source"),
        concat(lit("<html><body data-src=\""), col("source"),
          lit("\"><h1>Doc "), col("doc_id"), lit("</h1><p>"),
          regexp_replace(regexp_replace(col("text"), "table",
            "<b>table</b>"), "fast", "&amp;fast"),
          lit("</p></body></html>")).as("html"))
      val stripped = h.select(col("doc_id"), col("source"), col("html"),
        regexp_replace(regexp_replace(col("html"), "<[^>]+>", ""),
          "&amp;", "&").as("clean"))
      stripped.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(length(col("html")) - length(regexp_replace(col("html"), "<", "")))
          .as("n_tags"),
        round(avg(length(col("clean"))), 4).as("avg_clean_len"))
    }),
    // Hourly OHLC + VWAP bars — the time-bucketed downsampling shape
    // (market bars, telemetry rollups): one grouped aggregation, with
    // open/close as arg_min_by/arg_max_by over the exact (epoch-micro,
    // event_id) total order. The typed aggregates are called DIRECTLY
    // (q17's precedent) rather than via min_by/max_by + the rewrite
    // rule: parquet columns are nullable in the schema, so the rule's
    // null-semantics guard (correctly) refuses to fire and the builtin
    // would degrade the whole corpus agg to sort-sort-SortAggregate.
    // arg_*_by skips null-ordering rows — vacuous here, tsu/event_id
    // are never null. Prices are exact cents; VWAP divides two exact
    // integer sums. The long epoch-micro key orders as an exact long.
    "q352_vwap_bars" -> ((s, d) => {
      val b = ev(s, d).select(
        // floor division via pmod (not bare DIV, which truncates toward
        // zero): pre-epoch timestamps must land in the earlier hour
        // bucket, matching DuckDB's flooring //
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000L)) " +
          "DIV 3600000000L").as("hour"),
        unix_micros(col("ts")).as("tsu"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("user_id") % 10 + 1).cast("long").as("qty"))
      b.groupBy("hour").agg(
          graft.functions.ArgMinBy(col("cents"), col("tsu"), col("event_id"))
            .as("open_c"),
          max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
          graft.functions.ArgMinBy.argMax(col("cents"), col("tsu"),
            col("event_id")).as("close_c"),
          sum(col("cents") * col("qty")).as("__pv"),
          sum(col("qty")).as("volume"))
        .select(col("hour"), col("open_c"), col("high_c"), col("low_c"),
          col("close_c"), col("volume"),
          // integer micro-dollar units (the q93 device): pv/vol is an
          // identical double on both engines and round-to-INTEGER agrees
          // everywhere, unlike round(x, 6) whose decimal-scale paths can
          // flip boundary values (vol divides pv in binary fractions, so
          // .5 landings are common here)
          round(col("__pv").cast("double") / col("volume") * lit(10000.0d))
            .cast("long").as("vwap_e6"))
    }),
    // MERGE-style upsert AUDIT — the metrics row every MERGE INTO emits
    // (Delta/Iceberg `operationMetrics`): rows matched-and-updated, rows
    // inserted, rows retained untouched, with post-merge checksums per
    // action. Target = the per-part snapshot as of the cutoff; source =
    // the post-cutoff delta of the same feed (q315 is the write half of
    // this; q127 returns the merged TABLE — this returns the AUDIT).
    // Both relations come out of ONE fact scan as conditional aggregates
    // (sum(when) is null when no rows — exactly the key-presence test a
    // full-outer target⋈source would give), so the whole merge
    // classification costs one shuffle on the merge key instead of two
    // aggregations plus an outer join. Revenue rides exact cents.
    "q353_merge_audit" -> ((s, d) => {
      val cut = lit("1997-06-01").cast("timestamp")
      // merge key = (part, supplier): fine enough that all three actions
      // occur at every SF (a coarser key degenerates to all-update once
      // every key straddles the cutoff)
      val per = li(s, d).select(col("l_partkey"), col("l_suppkey"),
          col("l_shipdate").lt(cut).as("__old"),
          round(col("l_extendedprice") * 100).cast("long").as("__c"))
        .groupBy("l_partkey", "l_suppkey").agg(
          sum(when(col("__old"), col("__c"))).as("t_c"),
          sum(when(col("__old"), 1L)).as("t_n"),
          sum(when(!col("__old"), col("__c"))).as("s_c"),
          sum(when(!col("__old"), 1L)).as("s_n"))
      per.select(
          when(col("t_n").isNotNull && col("s_n").isNotNull, "update")
            .when(col("t_n").isNull, "insert").otherwise("retain")
            .as("action"),
          col("t_n"), col("s_n"),
          (coalesce(col("t_c"), lit(0L)) + coalesce(col("s_c"), lit(0L)))
            .as("__m"))
        .groupBy("action").agg(count(lit(1)).as("n_keys"),
          coalesce(sum(col("t_n")), lit(0L)).as("n_target_rows"),
          coalesce(sum(col("s_n")), lit(0L)).as("n_source_rows"),
          round(sum(col("__m")).cast("double") / 100, 2)
            .as("merged_revenue"))
    }),
    // Pivot-wide with MULTIPLE measures per pivot value — the dashboard
    // export shape (q45 pivots one measure): event volume AND exact-cent
    // value per 6-hour time-of-day band, one wide row per event type.
    // The pivot list is explicit (no distinct-values pre-scan — at scale
    // that scan is a full pass just to learn the column set) and the
    // whole thing is ONE partial-aggregating hash aggregate: 4 bands ×
    // 2 measures = 8 counters per group, map-side combined. Bucketing is
    // floor-division via pmod (q352's device) so pre-epoch timestamps
    // would band identically to DuckDB's flooring //.
    "q354_pivot_multi" -> ((s, d) => {
      val b = ev(s, d).select(col("event_type"),
        expr("pmod((unix_micros(ts) - pmod(unix_micros(ts), 3600000000L))" +
          " DIV 3600000000L, 24L) DIV 6L").as("band"),
        round(col("value") * 100).cast("long").as("cents"))
      b.groupBy("event_type").pivot("band", Seq(0, 1, 2, 3))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("cents")).cast("double") / 100, 2).as("val"))
    }),
    // End-to-end dedup QUALITY scorecard — closes the loop q205 opened at
    // the candidate-pair level: run the full production chain
    // (MinHash → LSH band join → exact-Jaccard verify → connected
    // components, q44's exact parameters) and grade its final CLUSTERS
    // against the exact ground truth (PPJoin candidate generation has
    // recall 1.0 by theorem, so canonicalizeExact's components ARE the
    // true "jaccard ≥ 0.3" clustering). Grading is standard pair-level
    // cluster eval: a pair counts iff the two docs share a label, so the
    // comparison also scores the transitive closure the CC step adds —
    // the part no pairwise eval sees. Co-membership joins cost Σ|c|²
    // over CLUSTERS (near-dup clusters are single-digit; the corpus-size
    // term is linear), and the two scalar cluster counts attach by
    // 1-row broadcast.
    //
    // ONE PPJoin serves BOTH chains (r15): the exact pair table has
    // recall 1.0, so the LSH chain's verified edge set is BY DEFINITION
    // truth ∩ candidates — the exact verify admits precisely the true
    // pairs among the LSH candidates. Deriving pred edges as a semi-join
    // of the (tiny, checkpointed) truth pairs against the LSH candidate
    // pairs is therefore bit-identical to running canonicalize's own
    // verify join, and the corpus-scale exact-verify work runs once
    // instead of twice (sf10: the two chains shared 241 GB of spill
    // before the r15 verify-then-dedup fix; now they share one PPJoin).
    "q355_dedup_scorecard" -> ((s, d) => {
      val docs = doc(s, d)
      val nodes = docs.select(col("doc_id").as("node"))
      val truthPairs = graft.io.Checkpoints.truncate(
        Dedup.ngramJaccardSelfPairs(docs, "text", "doc_id",
            k = 2, threshold = 0.3)
          .select(col("id_a"), col("id_b")), eager = true)
      // q44's exact LSH parameters (canonicalize defaults: 8 bands × 2
      // rows, candidate prefilter at half the verify threshold)
      val candPairs = Dedup.minHashLsh(docs, "text", "doc_id", k = 2,
          bands = 8, rowsPerBand = 2, threshold = 0.3 / 2, family = "md5p61")
        .select(col("id_a"), col("id_b"))
      val predEdges = candPairs.join(broadcast(truthPairs),
        Seq("id_a", "id_b"), "left_semi")
      def ccLabels(edges: DataFrame, chain: String): DataFrame = {
        val (labels, converged) =
          graft.graph.ConnectedComponents.minLabel(edges, nodes, 16)
        require(converged, s"q355 $chain chain: CC fixpoint not reached")
        labels.select(col("node").as("doc_id"),
          col("label").as("canonical_id"))
      }
      val pred = ccLabels(predEdges, "pred")
      val truth = ccLabels(truthPairs, "truth")
      def comember(lab: DataFrame): DataFrame =
        lab.select(col("canonical_id").as("__l"), col("doc_id").as("id_a"))
          .join(lab.select(col("canonical_id").as("__l"),
            col("doc_id").as("id_b")), Seq("__l"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
      def nClusters(lab: DataFrame, out: String): DataFrame =
        lab.groupBy("canonical_id").agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= 2).agg(count(lit(1)).as(out))
      val cm = comember(pred).withColumn("__p", lit(1L))
        .join(comember(truth).withColumn("__t", lit(1L)),
          Seq("id_a", "id_b"), "full_outer")
        .agg(
          // coalesce: a duplicate-free corpus has ZERO pairs on both
          // sides, and sum over no rows is null — the scorecard reports 0
          coalesce(sum(when(col("__p").isNotNull && col("__t").isNotNull,
            1L).otherwise(0L)), lit(0L)).as("tp"),
          coalesce(sum(when(col("__p").isNotNull && col("__t").isNull,
            1L).otherwise(0L)), lit(0L)).as("fp"),
          coalesce(sum(when(col("__p").isNull && col("__t").isNotNull,
            1L).otherwise(0L)), lit(0L)).as("fn"))
      cm.crossJoin(broadcast(nClusters(pred, "pred_clusters")))
        .crossJoin(broadcast(nClusters(truth, "truth_clusters")))
        .select(col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0, round(col("tp").cast("double")
            / (col("tp") + col("fp")), 6)).as("prec"),
          when(col("tp") + col("fn") > 0, round(col("tp").cast("double")
            / (col("tp") + col("fn")), 6)).as("rec"),
          when(col("tp") * 2 + col("fp") + col("fn") > 0,
            round((col("tp") * 2).cast("double")
              / (col("tp") * 2 + col("fp") + col("fn")), 6)).as("f1"),
          col("pred_clusters"), col("truth_clusters"))
    }),
    // Kruskal–Wallis rank ANOVA (q191's Mann–Whitney generalized to k
    // groups, tie-corrected): does `value` distribute identically across
    // event types? Global average ranks ride q334's exact device —
    // 2·rank(c) = 2·cum_before + t + 1 over the DISTINCT-score relation
    // (GlobalRank's two-phase prefix sum, never a corpus-wide window) —
    // so the per-group rank sums are exact integers (DECIMAL: at 1e12
    // rows 2R ~ N² overflows int64). The only float work is Σ R²/n over
    // the k-row group relation, folded in sorted group order so both
    // engines add in the same sequence. Tie term Σ(t³−t) is exact.
    "q356_kruskal_wallis" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val base = ev(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      val byc = base.groupBy("c").agg(count(lit(1)).as("t"))
      val pp = graft.operators.GlobalRank.exclusivePrefixSum(byc, "c", "t")
      val per = base.groupBy("event_type", "c").agg(count(lit(1)).as("g"))
        .join(pp.select(col("c"), col("t"), col("cum_before")), Seq("c"))
        .groupBy("event_type").agg(sum(col("g")).as("ng"),
          sum(col("g").cast(dec)
            * (lit(2) * col("cum_before") + col("t") + 1)).as("r2"))
      val ties = pp.agg(
        sum(col("t").cast(dec) * col("t") * col("t") - col("t")).as("t3"))
      val tot = per.agg(sum(col("ng")).as("nn"), count(lit(1)).as("k"))
      per.agg(sort_array(collect_list(struct(col("event_type"),
          col("ng"), col("r2").cast("double").as("r2d")))).as("gs"))
        .select(expr("aggregate(gs, 0D, (acc, x) -> " +
          "acc + (x.r2d / 2D) * (x.r2d / 2D) / CAST(x.ng AS DOUBLE))")
          .as("srn"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
        .select(col("nn").as("n"), col("k"),
          round(((lit(12.0) / (col("nn").cast("double")
              * (col("nn") + 1).cast("double"))) * col("srn")
            - lit(3.0) * (col("nn") + 1).cast("double"))
            / (lit(1.0) - col("t3").cast("double")
              / (col("nn").cast("double") * col("nn").cast("double")
                * col("nn").cast("double") - col("nn").cast("double"))), 6)
            .as("h"))
    }),
    // Brown–Forsythe Levene test — variance homogeneity via one-way
    // ANOVA on |x − group median| (the robust form; q22 is the plain
    // ANOVA). The deviations are EXACT integers on the doubled-cents
    // scale (group medians are multiples of 0.5 cents, so 2·|c − med|
    // is integral — W is scale-invariant), which makes every sum exact;
    // the single ordered fold computes Σ S²/n and the rest is scalar
    // algebra on a 1-row relation. Group medians broadcast (k rows).
    "q357_levene_bf" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val base = ev(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      val med = base.groupBy("event_type").agg(
        (Stats.quantileExpr(s, "c", 0.5) * 2).cast("long").as("m2"))
      val z = base.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("c") * 2 - col("m2")).as("z"))
      val per = z.groupBy("event_type").agg(count(lit(1)).as("ng"),
        sum(col("z")).as("sg"), sum(col("z").cast(dec) * col("z")).as("qg"))
      val tot = per.agg(sum(col("ng")).as("nn"), count(lit(1)).as("k"),
        sum(col("sg")).as("st"), sum(col("qg")).as("qt"))
      per.agg(sort_array(collect_list(struct(col("event_type"),
          col("ng"), col("sg").cast("double").as("sgd")))).as("gs"))
        .select(expr("aggregate(gs, 0D, (acc, x) -> " +
          "acc + x.sgd * x.sgd / CAST(x.ng AS DOUBLE))").as("srn"))
        .crossJoin(broadcast(tot))
        .select(col("nn").as("n"), col("k"),
          round(((col("srn") - col("st").cast("double")
              * col("st").cast("double") / col("nn").cast("double"))
            / (col("k") - 1).cast("double"))
            / ((col("qt").cast("double") - col("srn"))
              / (col("nn") - col("k")).cast("double")), 6).as("w"))
    }),
    // Jarque–Bera normality screen per series — skewness, excess
    // kurtosis and the JB statistic from the first four RAW power sums,
    // each an exact DECIMAL(38,0) integer (cents⁴ ~1e19 overflows int64
    // PER ROW, so the cast precedes the multiplies; DuckDB rides
    // HUGEINT). One map-side-combinable hash aggregate per type; the
    // central-moment expansion is then fixed-order scalar algebra —
    // the only libm call is the correctly-rounded sqrt.
    "q358_jarque_bera" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val per = ev(s, d).select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("c")).as("s1"), sum(col("c").cast(dec) * col("c")).as("s2"),
          sum(col("c").cast(dec) * col("c") * col("c")).as("s3"),
          sum(col("c").cast(dec) * col("c") * col("c") * col("c")).as("s4"))
      val nd = col("n").cast("double")
      val mean = col("s1").cast("double") / nd
      val m2 = col("s2").cast("double") / nd - mean * mean
      val m3 = (col("s3").cast("double") / nd
        - lit(3.0) * mean * (col("s2").cast("double") / nd)) +
        lit(2.0) * mean * mean * mean
      val m4 = ((col("s4").cast("double") / nd
        - lit(4.0) * mean * (col("s3").cast("double") / nd)) +
        lit(6.0) * mean * mean * (col("s2").cast("double") / nd)) -
        lit(3.0) * mean * mean * mean * mean
      val skew = m3 / (sqrt(m2) * m2)
      val kurt = m4 / (m2 * m2) - lit(3.0)
      per.select(col("event_type"), col("n"),
        round(skew, 6).as("skew"), round(kurt, 6).as("kurt_excess"),
        round(nd / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0)), 4)
          .as("jb"))
    }),
    // Grubbs outlier statistic per series — G = max|x − x̄| / s, plus
    // WHICH row attains it. The deviation rides the n-scaled integer
    // |c·n − S| (exact, no float mean subtraction per row), and the
    // argmax tie-breaks deterministically to the LOWEST event_id via
    // the typed arg_max_by over the exact (dev, −id) LONG order —
    // one hash aggregate, no window, no double rounding at any scale.
    // Per-type stats broadcast back.
    "q359_grubbs" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val st = ev(s, d).select(col("event_type"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(col("c")).as("sc"), sum(col("c").cast(dec) * col("c")).as("qc"))
      val j = ev(s, d).select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("c"))
        .join(broadcast(st), Seq("event_type"))
        .select(col("event_type"), col("event_id"), col("n"), col("sc"),
          col("qc"), abs(col("c") * col("n") - col("sc")).as("dev"))
      // typed arg_max_by: the integral dev orders as an EXACT long (a
      // double key would round dev above 2^53 at extreme row counts),
      // and builtin max_by(struct) SortAggregates the corpus (the last
      // such site PLAN_AUDIT had left triaged as a trade; now closed)
      j.groupBy("event_type").agg(max(col("n")).as("n"),
          max(col("sc")).as("sc"), max(col("qc")).as("qc"),
          max(col("dev")).as("md"),
          graft.functions.ArgMinBy.argMax(col("event_id"),
            col("dev"), col("event_id") * -1).as("outlier_event_id"))
        .select(col("event_type"), col("n"),
          round((col("md").cast("double") / col("n").cast("double"))
            / sqrt((col("qc").cast("double")
              - col("sc").cast("double") * col("sc").cast("double")
                / col("n").cast("double"))
              / (col("n") - 1).cast("double")), 6).as("g"),
          col("outlier_event_id"))
    }),
    // Maximum drawdown per series — peak-to-trough on the cents "price"
    // path in (ts, event_id) total order: running max via a keyed
    // cumulative window (linear, partition = series; never a global
    // window), drawdown = running_max − price, one grouped max. All
    // integer until the final dollars rounding.
    "q360_max_drawdown" -> ((s, d) => {
      val b = ev(s, d).select(col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("tsu").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.select(col("event_type"), (max(col("c")).over(w) - col("c")).as("dd"))
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          round(max(col("dd")).cast("double") / 100, 2).as("max_drawdown"))
    }),
    // Friedman rank test over COMPLETE blocks — blocks are UTC days,
    // treatments the event types, block response = the day's exact-cent
    // total per type. Within-day average ranks carry the exact doubled
    // form 2·r̄ = 2(rank−1) + ties + 1 (day-keyed windows over the
    // bounded day×type cell relation, not the event stream); days
    // missing a treatment drop (classic Friedman needs complete blocks;
    // the global k attaches as a 1-row broadcast). χ² folds Σ R² over
    // the k-row treatment relation in sorted order. Average ranks
    // handle ties; the classic statistic carries no tie-correction term.
    "q361_friedman" -> ((s, d) => {
      val cell = ev(s, d).select(col("event_type"),
          expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000L))" +
            " DIV 86400000000L").as("day"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("day", "event_type").agg(sum(col("c")).as("sv"))
      val kk = cell.agg(countDistinct(col("event_type")).as("k"))
      val complete = cell.withColumn("kc",
          count(lit(1)).over(Window.partitionBy("day")))
        .crossJoin(broadcast(kk)).filter(col("kc") === col("k"))
      val ranked = complete.select(col("event_type"), col("k"),
        (lit(2) * (rank().over(Window.partitionBy("day").orderBy("sv")) - 1)
          + count(lit(1)).over(Window.partitionBy("day", "sv")) + 1)
          .as("r2"))
      val per = ranked.groupBy("event_type").agg(sum(col("r2")).as("rr2"),
        count(lit(1)).as("nb"), max(col("k")).as("k"))
      val tot = per.agg(max(col("nb")).as("n_blocks"), max(col("k")).as("k"))
      per.agg(sort_array(collect_list(struct(col("event_type"),
          col("rr2").cast("double").as("rd")))).as("gs"))
        .select(expr("aggregate(gs, 0D, (acc, x) -> " +
          "acc + (x.rd / 2D) * (x.rd / 2D))").as("sr2"))
        .crossJoin(broadcast(tot))
        .select(col("n_blocks"), col("k"),
          round(lit(12.0) / (col("n_blocks").cast("double")
              * col("k").cast("double") * (col("k") + 1).cast("double"))
            * col("sr2")
            - lit(3.0) * col("n_blocks").cast("double")
              * (col("k") + 1).cast("double"), 6).as("chi2"))
    }),
    // Average precision (PR-AUC) — q334's ROC companion for imbalanced
    // retrieval eval, in the threshold-step form AP = Σ (ΔR_i · P_i)
    // over DISTINCT scores descending (the tie-canonical definition:
    // tied scores enter as one block, so no arbitrary within-tie order
    // leaks into the metric). Scores quantize to whole dollars, so the
    // cumulative TP/row counts ride GlobalRank's distributed prefix sums
    // over a ≤600-row score relation and the one float fold runs
    // score-descending on both engines.
    "q362_average_precision" -> ((s, d) => {
      val base = ev(s, d).select(
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("lab"),
        expr("(CAST(round(value * 100) AS LONG) - " +
          "pmod(CAST(round(value * 100) AS LONG), 100L)) DIV 100L").as("sc"))
      val byc = base.groupBy("sc").agg(count(lit(1)).as("t"),
        sum(col("lab")).as("ta"))
      val pp = graft.operators.GlobalRank.exclusivePrefixSums(
        byc.withColumn("negs", col("sc") * -1), "negs", Seq("t", "ta"))
      val tot = byc.agg(sum(col("ta")).as("np"), count(lit(1)).as("n_scores"))
      pp.select((col("cum_before_t") + col("t")).as("ct"),
          (col("cum_before_ta") + col("ta")).as("cta"),
          col("ta"), col("negs"))
        .agg(sort_array(collect_list(struct(col("negs"),
          col("ta").cast("double").as("tad"),
          col("cta").cast("double").as("ctad"),
          col("ct").cast("double").as("ctd")))).as("gs"))
        .crossJoin(broadcast(tot))
        .select(col("np").as("n_pos"), col("n_scores"),
          when(col("np") > 0, round(expr("aggregate(gs, 0D, (acc, x) -> " +
            "acc + x.tad * (x.ctad / x.ctd))") / col("np").cast("double"),
            6)).as("ap"))
    }),
    // Average True Range over the q352 hourly bars — the windowed-over-
    // aggregated composition (bars first, indicator second): TR =
    // max(H−L, |H−C₋₁|, |L−C₋₁|) per bar in exact cents, ATR = the
    // trailing 14-bar mean, full windows only (q317's exclusion rule).
    // Bars are keyed per series so every window is per-type over the
    // BOUNDED bar relation; everything is integral until the final
    // dollar divisions, so max/argmax over ATRs are order-free.
    "q363_atr" -> ((s, d) => {
      val b = ev(s, d).select(col("event_type"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000L)) " +
          "DIV 3600000000L").as("hour"),
        unix_micros(col("ts")).as("tsu"), col("event_id"),
        round(col("value") * 100).cast("long").as("c"))
      // close via the typed arg_max_by (q352's reasoning: nullable
      // parquet columns block the rewrite rule, and builtin max_by
      // would sink the corpus-scale bar agg into SortAggregate)
      val bars = b.groupBy("event_type", "hour").agg(
        max(col("c")).as("hi"), min(col("c")).as("lo"),
        graft.functions.ArgMinBy.argMax(col("c"), col("tsu"),
          col("event_id")).as("cl"))
      val wo = Window.partitionBy("event_type").orderBy("hour")
      val tr = bars.select(col("event_type"), col("hour"),
          lag(col("cl"), 1).over(wo).as("pc"), col("hi"), col("lo"))
        .filter(col("pc").isNotNull)
        .select(col("event_type"), col("hour"),
          greatest(col("hi") - col("lo"), abs(col("hi") - col("pc")),
            abs(col("lo") - col("pc"))).as("tr"))
      val w14 = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-13, Window.currentRow)
      tr.select(col("event_type"), col("hour"),
          sum(col("tr")).over(w14).as("s14"),
          count(lit(1)).over(w14).as("k14"))
        .filter(col("k14") === 14)
        .groupBy("event_type").agg(count(lit(1)).as("n_full"),
          round(max(col("s14")).cast("double") / 1400, 4).as("max_atr"),
          round(max_by(col("s14"), col("hour")).cast("double") / 1400, 4)
            .as("last_atr"))
    }),
    // Wilder-style RSI profile (simple 14-tick averages) per series —
    // tick-to-tick gains/losses are exact cents, and the overbought/
    // oversold counts use the INTEGER forms of the thresholds
    // (RSI ≥ 70 ⟺ 3·G ≥ 7·L on G+L > 0), so no row's classification
    // ever hangs on a float boundary; flat windows (G+L = 0, RSI
    // undefined) count in neither bucket. max_rsi is a max over
    // exact-ratio doubles — order-free.
    "q364_rsi" -> ((s, d) => {
      val wo = Window.partitionBy("event_type")
        .orderBy(col("tsu").asc, col("event_id").asc)
      val diffs = ev(s, d).select(col("event_type"),
          unix_micros(col("ts")).as("tsu"), col("event_id"),
          round(col("value") * 100).cast("long").as("c"))
        .select(col("event_type"), col("tsu"), col("event_id"),
          (col("c") - lag(col("c"), 1).over(wo)).as("df"))
        .filter(col("df").isNotNull)
      val w14 = Window.partitionBy("event_type")
        .orderBy(col("tsu").asc, col("event_id").asc)
        .rowsBetween(-13, Window.currentRow)
      diffs.select(col("event_type"),
          sum(greatest(col("df"), lit(0L))).over(w14).as("g"),
          sum(greatest(col("df") * -1, lit(0L))).over(w14).as("l"),
          count(lit(1)).over(w14).as("k14"))
        .filter(col("k14") === 14)
        .groupBy("event_type").agg(count(lit(1)).as("n_windows"),
          sum(when(col("g") + col("l") > 0
            && col("g") * 3 >= col("l") * 7, 1L).otherwise(0L))
            .as("overbought"),
          sum(when(col("g") + col("l") > 0
            && col("l") * 3 >= col("g") * 7, 1L).otherwise(0L))
            .as("oversold"),
          round(max(when(col("g") + col("l") > 0,
            lit(100.0) * col("g").cast("double")
              / (col("g") + col("l")).cast("double"))), 4).as("max_rsi"))
    }),
    // Interval-OVERLAP join (the q52 point-in-range join's symmetric
    // sibling): per-user daily activity intervals × per-type daily
    // activity intervals, pairs that overlap in time. The scale device
    // is grid bucketing — each interval explodes into the 6-hour cells
    // it covers (≤5 per daily interval), the join runs on the cell key,
    // pairs dedup, and the exact predicate a_s ≤ b_e ∧ b_s ≤ a_e
    // verifies (cell agreement is necessary, not sufficient). Never an
    // unbounded theta join; the oracle replays the theta join directly
    // and the grid width provably cancels out.
    "q365_interval_overlap" -> ((s, d) => {
      val cellW = 21600000000L // 6 h in µs
      val b = ev(s, d).select(col("event_type"), col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000L))" +
          " DIV 86400000000L").as("day"),
        unix_micros(col("ts")).as("tsu"))
      val a = b.groupBy("user_id", "day")
        .agg(min(col("tsu")).as("a_s"), max(col("tsu")).as("a_e"))
      val p = b.groupBy("event_type", "day")
        .agg(min(col("tsu")).as("b_s"), max(col("tsu")).as("b_e"))
      // integer floor division (no double quotient: a 1-ulp flip at a
      // cell boundary could drop a covering cell and lose a true pair).
      // pmod+DIV keeps the quotient in the integer domain end to end —
      // Divide would detour through double, exact only below 2^53.
      def cells(df: DataFrame, s0: String, e0: String): DataFrame =
        df.withColumn("cell", explode(sequence(
          expr(s"($s0 - pmod($s0, ${cellW}L)) DIV ${cellW}L"),
          expr(s"($e0 - pmod($e0, ${cellW}L)) DIV ${cellW}L"))))
      cells(a, "a_s", "a_e").join(cells(p, "b_s", "b_e"), Seq("cell"))
        .drop("cell").distinct()
        .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        .groupBy("event_type").agg(count(lit(1)).as("n_pairs"),
          round(sum(least(col("a_e"), col("b_e"))
            - greatest(col("a_s"), col("b_s"))).cast("double") / 1000000,
            2).as("overlap_seconds"))
    }),
    // Burrows' Delta stylometry distance between sources — z-scores of
    // the top-20 corpus words' relative frequencies (total order: count
    // desc, word asc — the q58 TakeOrdered cut), Δ(s₁,s₂) = mean_w
    // |z₁ − z₂|. The source×word matrix densifies by cross join (zeros
    // matter), per-word μ/σ and the per-pair fold both run over SORTED
    // bounded lists (≤ sources, ≤ 20 words) so every float sum has one
    // fixed order on both engines. Words with σ = 0 carry no signal and
    // drop. All corpus-scale work is one token count.
    "q366_burrows_delta" -> ((s, d) => {
      val toks = doc(s, d).select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val top = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w").asc).limit(20).select("w")
      val totals = toks.groupBy("source").agg(count(lit(1)).as("tot"))
      val sw = toks.join(broadcast(top), Seq("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val dense = totals.crossJoin(broadcast(top))
        .join(sw, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          (coalesce(col("c"), lit(0L)).cast("double")
            / col("tot").cast("double")).as("f"))
      val stats = dense.groupBy("w")
        .agg(sort_array(collect_list(struct(col("source"), col("f"))))
          .as("fs"))
        .select(col("w"),
          expr("aggregate(fs, 0D, (a, x) -> a + x.f)").as("s1"),
          expr("aggregate(fs, 0D, (a, x) -> a + x.f * x.f)").as("s2"),
          expr("CAST(size(fs) AS DOUBLE)").as("k"))
        .select(col("w"), (col("s1") / col("k")).as("mu"),
          sqrt(col("s2") / col("k")
            - (col("s1") / col("k")) * (col("s1") / col("k"))).as("sig"))
        .filter(col("sig") > 0)
      val z = dense.join(broadcast(stats), Seq("w"))
        .select(col("source"), col("w"),
          ((col("f") - col("mu")) / col("sig")).as("z"))
      val za = z.groupBy("source")
        .agg(sort_array(collect_list(struct(col("w"), col("z")))).as("zs"))
      za.as("l").join(za.as("r"),
          col("l.source") < col("r.source"))
        .select(col("l.source").as("source_a"),
          col("r.source").as("source_b"),
          round(expr("aggregate(zip_with(l.zs, r.zs, " +
            "(x, y) -> abs(x.z - y.z)), 0D, (a, v) -> a + v)")
            / expr("CAST(size(l.zs) AS DOUBLE)"), 6).as("delta"))
    }),
    // Trimmed vs winsorized mean per series — the two standard robust
    // locations side by side (P7/q05 clamps a FIXED threshold; this
    // trims/clamps the data's own exact deciles). Decile interpolation
    // fractions are tenths, so the bounds ride a ×10 integer domain —
    // with an explicit round() on BOTH engines, because 10·p is an
    // integer ± each engine's (n−1)·0.1 float noise and truncate-vs-
    // round would split on the noise sign (the q348 lesson one level
    // deeper: medians are half-integral, deciles are NOT). Both output
    // means are then exact-integer ratios; rows strictly outside
    // [p10, p90] trim.
    "q367_trimmed_mean" -> ((s, d) => {
      val base = ev(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      val qs = base.groupBy("event_type").agg(
        round(Stats.quantileExpr(s, "c", 0.1) * 10).cast("long").as("p10x"),
        round(Stats.quantileExpr(s, "c", 0.9) * 10).cast("long").as("p90x"))
      base.join(broadcast(qs), Seq("event_type"))
        .groupBy("event_type").agg(count(lit(1)).as("n"),
          sum(when(col("c") * 10 >= col("p10x")
            && col("c") * 10 <= col("p90x"), col("c"))).as("s_in"),
          sum(when(col("c") * 10 >= col("p10x")
            && col("c") * 10 <= col("p90x"), 1L)).as("n_in"),
          sum(when(col("c") * 10 < col("p10x"), 1L).otherwise(0L))
            .as("n_lo"),
          sum(when(col("c") * 10 > col("p90x"), 1L).otherwise(0L))
            .as("n_hi"),
          max(col("p10x")).as("p10x"), max(col("p90x")).as("p90x"))
        .select(col("event_type"), col("n"),
          round(col("s_in").cast("double") / col("n_in").cast("double")
            / 100, 4).as("trimmed_mean"),
          round((col("s_in") * 10 + col("n_lo") * col("p10x")
            + col("n_hi") * col("p90x")).cast("double")
            / (col("n").cast("double") * 1000), 4).as("winsorized_mean"))
    })
  )

  val oracle: Map[String, String] = Map(
    // q122's BM25 CTE + q295's QLD CTE, fused over the two top-20 lists.
    "q337_rrf_fusion" ->
      """WITH p AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token
        | FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM p GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, count(*) AS dl FROM p GROUP BY doc_id),
        |s AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  CAST((SELECT count(*) FROM p) AS DOUBLE)
        |    / (SELECT count(*) FROM documents) AS avgdl),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM p
        |       WHERE token IN ('vector', 'join', 'scan') GROUP BY token),
        |sc AS (
        | SELECT tf.doc_id,
        |  round(sum(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |    (CAST(tf AS DOUBLE) * (1.2::DOUBLE + 1.0)
        |      / (tf + 1.2::DOUBLE * (0.25 + 0.75::DOUBLE * dl / avgdl)))), 4)
        |    AS score
        | FROM tf JOIN df ON tf.token = df.token
        |  JOIN dl ON tf.doc_id = dl.doc_id, s
        | GROUP BY tf.doc_id),
        |r_bm AS (SELECT doc_id, rnk FROM (
        |  SELECT doc_id,
        |   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |     AS rnk
        |  FROM sc) WHERE rnk <= 20),
        |t2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |d2 AS (
        | SELECT doc_id, len(w) AS dl,
        |  len(list_filter(w, x -> x = 'vector')) AS tf1,
        |  len(list_filter(w, x -> x = 'join')) AS tf2,
        |  len(list_filter(w, x -> x = 'scan')) AS tf3
        | FROM t2),
        |c2 AS (SELECT sum(dl) AS ct, sum(tf1) AS cf1, sum(tf2) AS cf2,
        |       sum(tf3) AS cf3 FROM d2),
        |qs AS (SELECT doc_id, round(
        |  ln((tf1 + 2000.0 * cf1 / ct) / (dl + 2000.0)) +
        |  ln((tf2 + 2000.0 * cf2 / ct) / (dl + 2000.0)) +
        |  ln((tf3 + 2000.0 * cf3 / ct) / (dl + 2000.0)), 6) AS qld
        | FROM d2, c2),
        |r_q AS (SELECT doc_id, r_qld FROM (
        |  SELECT doc_id,
        |   CAST(row_number() OVER (ORDER BY qld DESC, doc_id) AS BIGINT)
        |     AS r_qld
        |  FROM qs) WHERE r_qld <= 20),
        |f AS (
        | SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  coalesce(1.0 / (a.rnk + 60), 0) + coalesce(1.0 / (b.r_qld + 60), 0)
        |    AS sm, a.rnk AS r_bm25, b.r_qld
        | FROM r_bm a FULL OUTER JOIN r_q b ON a.doc_id = b.doc_id)
        |SELECT doc_id, round(sm, 6) AS rrf_score, r_bm25, r_qld
        |FROM f ORDER BY sm DESC, doc_id LIMIT 10""".stripMargin,
    // fixed-width cent buckets; Laplace-smoothed exact-int shares.
    "q338_psi_drift" ->
      """WITH d0 AS (
        | SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
        |b AS (
        | SELECT CAST(round(value * 100) AS BIGINT) // 5000 AS bucket,
        |  (epoch_us(ts) // 86400000000 < d0 + 15) AS is_ref
        | FROM events, d0),
        |bk AS (
        | SELECT bucket,
        |  CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cb
        | FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb,
        |  CAST(count(*) AS BIGINT) AS k FROM bk),
        |terms AS (
        | SELECT na, nb, k, round(
        |  (CAST(ca + 1 AS DOUBLE) / (na + k)
        |    - CAST(cb + 1 AS DOUBLE) / (nb + k))
        |  * ln((CAST(ca + 1 AS DOUBLE) / (na + k))
        |    / (CAST(cb + 1 AS DOUBLE) / (nb + k))), 6) AS term
        | FROM bk, tot)
        |SELECT na AS n_ref, nb AS n_cur, k AS n_buckets,
        | round(sum(term), 4) AS psi
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,
    // exact-int absolute errors; sMAPE mean follows the q125 precedent.
    "q339_forecast_eval" ->
      """WITH hourly AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |lagd AS (
        | SELECT c, lag(c, 24) OVER (ORDER BY h) AS sn,
        |  lag(c) OVER (ORDER BY h) AS nv
        | FROM hourly),
        |m AS (
        | SELECT
        |  CAST(sum(CASE WHEN sn IS NOT NULL THEN abs(c - sn) END)
        |    AS BIGINT) AS se,
        |  CAST(sum(CASE WHEN sn IS NOT NULL THEN 1 END) AS BIGINT) AS ne,
        |  sum(CASE WHEN sn IS NOT NULL AND c + sn > 0
        |      THEN 2.0 * abs(c - sn) / (c + sn) END) AS sm,
        |  CAST(sum(CASE WHEN sn IS NOT NULL AND c + sn > 0 THEN 1 END)
        |    AS BIGINT) AS nm,
        |  CAST(sum(CASE WHEN nv IS NOT NULL THEN abs(c - nv) END)
        |    AS BIGINT) AS s1,
        |  CAST(sum(CASE WHEN nv IS NOT NULL THEN 1 END) AS BIGINT) AS n1
        | FROM lagd)
        |SELECT ne AS n_eval, round(CAST(se AS DOUBLE) / ne, 4) AS mae,
        | round(sm / nm, 4) AS smape,
        | CASE WHEN s1 > 0 THEN round((CAST(se AS DOUBLE) / ne)
        |  / (CAST(s1 AS DOUBLE) / n1), 4) END AS mase
        |FROM m""".stripMargin,
    // ⌈0.9(n+1)⌉-th order statistic via the q325 prefix idiom; integer k.
    "q340_conformal_interval" ->
      """WITH d0 AS (
        | SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
        |base AS (
        | SELECT event_type AS et, CAST(round(value * 100) AS BIGINT) AS c,
        |  (epoch_us(ts) // 86400000000 < d0 + 15) AS is_ref
        | FROM events, d0),
        |md AS (SELECT et, CAST(sum(c) AS BIGINT) AS s,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM base WHERE is_ref GROUP BY 1),
        |cal AS (
        | SELECT round(abs(CAST(b.c AS DOUBLE)
        |   - CAST(m.s AS DOUBLE) / m.n), 6) AS sc
        | FROM base b JOIN md m ON b.et = m.et WHERE NOT b.is_ref),
        |bys AS (SELECT sc, CAST(count(*) AS BIGINT) AS t FROM cal GROUP BY 1),
        |nk AS (SELECT CAST(sum(t) AS BIGINT) AS ncal FROM bys),
        |pp AS (SELECT sc, t, coalesce(CAST(sum(t) OVER (ORDER BY sc
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS cum_before
        | FROM bys),
        |q AS (SELECT min(sc) AS qhat FROM pp, nk
        |      WHERE cum_before + t >= (9 * (ncal + 1) + 9) // 10),
        |cov AS (SELECT CAST(sum(t) AS BIGINT) AS cnt
        |        FROM bys, q WHERE sc <= qhat)
        |SELECT ncal AS n_cal, round(qhat, 6) AS qhat,
        | round(CAST(cnt AS DOUBLE) / ncal, 6) AS coverage
        |FROM q, nk, cov""".stripMargin,
    // q133's unrolled-iteration device with max-normalization.
    "q341_eigenvector_centrality" ->
      """WITH eo AS (
        | SELECT DISTINCT o_custkey AS cust, 1000000 + l_suppkey AS supp
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM eo
        |      UNION ALL SELECT supp, cust FROM eo),
        |x0 AS (SELECT DISTINCT src AS node, 1.0::DOUBLE AS score FROM e),
        |s1 AS (SELECT e.dst AS node, round(sum(x.score), 8) AS raw
        |       FROM e JOIN x0 x ON x.node = e.src GROUP BY 1),
        |m1 AS (SELECT max(raw) AS m FROM s1),
        |x1 AS (SELECT node, round(raw / m, 8) AS score FROM s1, m1),
        |s2 AS (SELECT e.dst AS node, round(sum(x.score), 8) AS raw
        |       FROM e JOIN x1 x ON x.node = e.src GROUP BY 1),
        |m2 AS (SELECT max(raw) AS m FROM s2),
        |x2 AS (SELECT node, round(raw / m, 8) AS score FROM s2, m2),
        |s3 AS (SELECT e.dst AS node, round(sum(x.score), 8) AS raw
        |       FROM e JOIN x2 x ON x.node = e.src GROUP BY 1),
        |m3 AS (SELECT max(raw) AS m FROM s3),
        |x3 AS (SELECT node, round(raw / m, 8) AS score FROM s3, m3)
        |SELECT node, round(score, 6) AS score FROM x3""".stripMargin,
    // exact-int discordant counts; Edwards (|b−c|−1)² correction.
    "q342_mcnemar" ->
      """WITH base AS (
        | SELECT (event_type = 'purchase') AS y,
        |  (CAST(round(value * 100) AS BIGINT) > 10000) AS pa,
        |  (CAST(round(value * 100) AS BIGINT) > 15000) AS pb
        | FROM events),
        |m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS oka,
        |  CAST(sum(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS okb
        | FROM base)
        |SELECT n AS n_paired, b AS b_only_a, c AS c_only_b,
        | round(CAST(oka AS DOUBLE) / n, 6) AS acc_a,
        | round(CAST(okb AS DOUBLE) / n, 6) AS acc_b,
        | CASE WHEN b + c > 0 THEN round(
        |  CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE) / (b + c), 4)
        | END AS mcnemar_chi2
        |FROM m""".stripMargin,
    // same site literals; trig parity under the Lambert-93 precedent.
    "q343_haversine_sites" ->
      """WITH pts AS (
        | SELECT event_id,
        |  43.0 + (user_id % 1000) * 0.006 AS lat,
        |  -1.0 + (CAST(round(value * 100) AS BIGINT) % 600) * 0.01 AS lon
        | FROM events),
        |sites(site_id, slat, slon) AS (VALUES
        | (CAST(1 AS BIGINT), 48.8566, 2.3522),
        | (CAST(2 AS BIGINT), 45.764, 4.8357),
        | (CAST(3 AS BIGINT), 43.2965, 5.3698),
        | (CAST(4 AS BIGINT), 50.6292, 3.0573),
        | (CAST(5 AS BIGINT), 44.8378, -0.5792)),
        |dd AS (
        | SELECT event_id, site_id, round(2.0 * 6371.0088 * asin(least(1.0,
        |   sqrt(sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2)
        |    + cos(radians(lat)) * cos(radians(slat))
        |      * (sin(radians(slon - lon) / 2)
        |         * sin(radians(slon - lon) / 2))))), 6) AS dist_km
        | FROM pts CROSS JOIN sites),
        |nearest AS (
        | SELECT event_id, site_id, dist_km FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY dist_km, site_id) AS rn FROM dd) WHERE rn = 1)
        |SELECT site_id, CAST(floor(dist_km / 100) AS BIGINT) AS ring,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM nearest GROUP BY 1, 2""".stripMargin,
    // per-field survivorship rules as windows over the entity partition.
    "q344_golden_record" ->
      """WITH c AS (
        | SELECT *, c_custkey // 10 AS entity FROM customer),
        |best AS (
        | SELECT entity, c_name AS golden_name FROM (
        |  SELECT entity, c_name, row_number() OVER (PARTITION BY entity
        |    ORDER BY c_acctbal DESC, c_custkey) AS rn FROM c) WHERE rn = 1),
        |segs AS (
        | SELECT entity, c_mktsegment AS seg_mode FROM (
        |  SELECT entity, c_mktsegment, row_number() OVER (
        |    PARTITION BY entity
        |    ORDER BY count(*) DESC, c_mktsegment) AS rn
        |  FROM c GROUP BY entity, c_mktsegment) WHERE rn = 1),
        |ag AS (
        | SELECT entity, CAST(min(c_custkey) AS BIGINT) AS canonical_key,
        |  CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        | FROM c GROUP BY 1)
        |SELECT ag.entity, canonical_key, n_records, golden_name, seg_mode,
        | CAST(cents AS DOUBLE) / 100.0 AS total_bal
        |FROM ag JOIN best ON best.entity = ag.entity
        | JOIN segs ON segs.entity = ag.entity""".stripMargin,
    // exact-int confusion; macro over the bounded class relation.
    "q345_multiclass_f1" ->
      """WITH base AS (
        | SELECT event_type AS truth,
        |  CASE WHEN CAST(round(value * 100) AS BIGINT) < 5000 THEN 'view'
        |   WHEN CAST(round(value * 100) AS BIGINT) < 10000 THEN 'click'
        |   WHEN CAST(round(value * 100) AS BIGINT) < 15000 THEN 'signup'
        |   WHEN CAST(round(value * 100) AS BIGINT) < 20000 THEN 'error'
        |   ELSE 'purchase' END AS pred
        | FROM events),
        |classes AS (SELECT DISTINCT truth AS cls FROM base),
        |nt AS (SELECT truth AS cls, CAST(count(*) AS BIGINT) AS n_true
        |       FROM base GROUP BY 1),
        |tp AS (SELECT truth AS cls, CAST(count(*) AS BIGINT) AS tp
        |       FROM base WHERE truth = pred GROUP BY 1),
        |np AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred
        |       FROM base GROUP BY 1),
        |bycls AS (
        | SELECT c.cls, coalesce(tp.tp, 0) AS tp,
        |  coalesce(np.n_pred, 0) - coalesce(tp.tp, 0) AS fp,
        |  nt.n_true - coalesce(tp.tp, 0) AS fn
        | FROM classes c JOIN nt ON nt.cls = c.cls
        |  LEFT JOIN tp ON tp.cls = c.cls LEFT JOIN np ON np.cls = c.cls),
        |scored AS (
        | SELECT cls, tp, fp, fn,
        |  CASE WHEN tp + fp > 0
        |   THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
        |  CASE WHEN tp + fn > 0
        |   THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rec
        | FROM bycls),
        |f AS (
        | SELECT *, CASE WHEN prec + rec > 0
        |  THEN 2.0 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
        | FROM scored),
        |o AS (SELECT round(CAST(sum(tp) AS DOUBLE) / (sum(tp) + sum(fn)), 6)
        |   AS micro_f1, round(avg(f1), 6) AS macro_f1 FROM f)
        |SELECT cls, tp, fp, fn, round(prec, 6) AS prec, round(rec, 6) AS rec,
        | round(f1, 6) AS f1, micro_f1, macro_f1
        |FROM f, o""".stripMargin,
    // q123's percentile-cutpoint device; cumulative over 10 rows.
    "q346_gains_curve" ->
      """WITH base AS (
        | SELECT CAST(round(value * 100) AS BIGINT) AS score,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        | FROM events),
        |cuts AS (SELECT quantile_cont(score,
        |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM base),
        |dec AS (
        | SELECT CAST(10 - len(list_filter(cuts, c -> score > c)) AS BIGINT)
        |   AS decile,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
        | FROM base, cuts GROUP BY 1)
        |SELECT decile, n, p,
        | round(CAST(sum(p) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  / CAST(sum(p) OVER () AS BIGINT), 6) AS gain,
        | round((CAST(p AS DOUBLE) / n)
        |  / (CAST(sum(p) OVER () AS DOUBLE) / CAST(sum(n) OVER () AS BIGINT)),
        |  6) AS lift
        |FROM dec""".stripMargin,
    // Parallel unnests zip positionally (the q118 idiom); adjacency is
    // b.pos = a.pos + 1 on 0-based positions.
    "q347_phrase_search" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        | SELECT doc_id, unnest(toks) AS w,
        |  unnest(range(0, len(toks))) AS pos
        | FROM t)
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.w = 'table' AND b.w = 'hash'
        |GROUP BY 1""".stripMargin,
    // Integer sufficient statistics (whole dollars / whole quantities) so
    // every sum is exact; the double expansion mirrors the Spark op
    // order term-for-term.
    "q348_cv_ols" ->
      """WITH b AS (
        | SELECT CAST((l_orderkey + l_linenumber) % 5 AS BIGINT) AS fold,
        |  CAST(round(l_quantity) AS BIGINT) AS x,
        |  CAST(round(l_extendedprice) AS BIGINT) AS y
        | FROM lineitem),
        |per AS (
        | SELECT fold, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM b GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
        |  CAST(sum(sy) AS BIGINT) AS tsy, CAST(sum(sxx) AS BIGINT) AS tsxx,
        |  CAST(sum(sxy) AS BIGINT) AS tsxy
        | FROM per),
        |oof AS (
        | SELECT fold, n, sx, sy, sxx, sxy, syy,
        |  CAST(tn - n AS DOUBLE) AS rn, CAST(tsx - sx AS DOUBLE) AS rsx,
        |  CAST(tsy - sy AS DOUBLE) AS rsy,
        |  CAST(tsxx - sxx AS DOUBLE) AS rsxx,
        |  CAST(tsxy - sxy AS DOUBLE) AS rsxy
        | FROM per, tot),
        |fit AS (
        | SELECT fold, n, sx, sy, sxx, sxy, syy, rn, rsx, rsy,
        |  (rn * rsxy - rsx * rsy) / (rn * rsxx - rsx * rsx) AS b2
        | FROM oof),
        |fit2 AS (SELECT *, (rsy - b2 * rsx) / rn AS a2 FROM fit)
        |SELECT fold, n, round(b2, 6) AS slope, round(a2, 4) AS intercept,
        | round(sqrt((CAST(syy AS DOUBLE) - 2.0 * a2 * sy - 2.0 * b2 * sxy
        |   + n * a2 * a2 + 2.0 * a2 * b2 * sx
        |   + b2 * b2 * CAST(sxx AS DOUBLE)) / n), 4) AS rmse
        |FROM fit2""".stripMargin,
    // Same minimax identity over the same bin relation; pooled rates are
    // integer quotients, outputs integer 1e-6 units (q93 device).
    "q349_isotonic_calibration" ->
      """WITH b AS (
        | SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS bin,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        | FROM events),
        |bins AS (
        | SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS p
        | FROM b GROUP BY 1),
        |pre AS (
        | SELECT bin, n, p,
        |  CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
        |  CAST(sum(p) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp
        | FROM bins),
        |pairs AS (
        | SELECT a.bin AS j, c.bin AS k,
        |  CAST(c.cp - (a.cp - a.p) AS DOUBLE) / (c.cn - (a.cn - a.n))
        |   AS avgr
        | FROM pre a JOIN pre c ON a.bin <= c.bin),
        |m AS (
        | SELECT p2.j, i.bin AS i, min(avgr) AS m
        | FROM pairs p2 JOIN bins i ON p2.j <= i.bin AND p2.k >= i.bin
        | GROUP BY 1, 2),
        |fit AS (SELECT i, max(m) AS fit FROM m GROUP BY 1)
        |SELECT b2.bin, b2.n, b2.p,
        | CAST(round(CAST(b2.p AS DOUBLE) / b2.n * 1000000.0) AS BIGINT)
        |  AS raw_e6,
        | CAST(round(fit * 1000000.0) AS BIGINT) AS iso_e6
        |FROM bins b2 JOIN fit ON b2.bin = fit.i""".stripMargin,
    // Same synthesized URL; host/domain/param via the identical regexes
    // (simple enough to agree between RE2 and Java regex).
    "q350_url_parse" ->
      """WITH u AS (
        | SELECT doc_id, lang,
        |  'https://www.' || source || '.example.com/' || lang || '/doc-'
        |   || doc_id || '?ref=' || CAST(doc_id % 7 AS VARCHAR) AS url
        | FROM documents),
        |e AS (
        | SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host, lang,
        |  CAST(doc_id % 7 AS BIGINT) AS ref
        | FROM u),
        |e2 AS (
        | SELECT host, regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  lang, ref
        | FROM e)
        |SELECT host, domain, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | round(avg(ref), 4) AS avg_ref
        |FROM e2 GROUP BY 1, 2""".stripMargin,
    // replace() for the literal injections (DuckDB replace is global);
    // the tag-strip regex needs the explicit 'g' flag.
    "q351_html_strip" ->
      """WITH h AS (
        | SELECT doc_id, source,
        |  '<html><body data-src="' || source || '"><h1>Doc ' || doc_id
        |   || '</h1><p>'
        |   || replace(replace(text, 'table', '<b>table</b>'),
        |        'fast', '&amp;fast')
        |   || '</p></body></html>' AS html
        | FROM documents),
        |st AS (
        | SELECT doc_id, source, html,
        |  replace(regexp_replace(html, '<[^>]+>', '', 'g'), '&amp;', '&')
        |   AS clean
        | FROM h)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(html) - length(replace(html, '<', ''))) AS BIGINT)
        |  AS n_tags,
        | round(avg(length(clean)), 4) AS avg_clean_len
        |FROM st GROUP BY 1""".stripMargin,
    // open/close via first/last row_number over the (tsu, event_id)
    // total order — this DuckDB build's arg_min has no compound-key
    // overload; prices exact cents, VWAP a ratio of exact integer sums.
    "q352_vwap_bars" ->
      """WITH b AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour,
        |  CAST(epoch_us(ts) AS BIGINT) AS tsu, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  CAST(user_id % 10 + 1 AS BIGINT) AS qty
        | FROM events),
        |r AS (
        | SELECT hour, cents, qty,
        |  row_number() OVER (PARTITION BY hour ORDER BY tsu, event_id)
        |   AS ra,
        |  row_number() OVER (PARTITION BY hour
        |   ORDER BY tsu DESC, event_id DESC) AS rd
        | FROM b)
        |SELECT hour,
        | CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_c,
        | CAST(max(cents) AS BIGINT) AS high_c,
        | CAST(min(cents) AS BIGINT) AS low_c,
        | CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_c,
        | CAST(sum(qty) AS BIGINT) AS volume,
        | CAST(round(CAST(sum(cents * qty) AS DOUBLE)
        |  / CAST(sum(qty) AS BIGINT) * 10000.0) AS BIGINT) AS vwap_e6
        |FROM r GROUP BY 1""".stripMargin,
    // sum(CASE ... THEN 1 END) (not count FILTER) so an absent side is
    // NULL, matching Spark's sum(when(...)) key-presence semantics.
    "q353_merge_audit" ->
      """WITH per AS (
        | SELECT l_partkey, l_suppkey,
        |  sum(CASE WHEN l_shipdate < TIMESTAMP '1997-06-01'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS t_c,
        |  sum(CASE WHEN l_shipdate < TIMESTAMP '1997-06-01' THEN 1 END) AS t_n,
        |  sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-01'
        |      THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS s_c,
        |  sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-01' THEN 1 END) AS s_n
        | FROM lineitem GROUP BY 1, 2)
        |SELECT CASE WHEN t_n IS NOT NULL AND s_n IS NOT NULL THEN 'update'
        |        WHEN t_n IS NULL THEN 'insert' ELSE 'retain' END AS action,
        | CAST(count(*) AS BIGINT) AS n_keys,
        | CAST(coalesce(sum(t_n), 0) AS BIGINT) AS n_target_rows,
        | CAST(coalesce(sum(s_n), 0) AS BIGINT) AS n_source_rows,
        | round(CAST(sum(coalesce(t_c, 0) + coalesce(s_c, 0)) AS DOUBLE)
        |  / 100, 2) AS merged_revenue
        |FROM per GROUP BY 1""".stripMargin,
    // Empty pivot cells are NULL on both sides: Spark's pivot emits NULL
    // for a missing (group, band) cell even under count, so the oracle
    // uses sum(CASE WHEN ... THEN 1 END), not count(*) FILTER (= 0).
    // Band arithmetic replays Spark's pmod floor-division exactly.
    "q354_pivot_multi" ->
      """WITH b AS (
        | SELECT event_type,
        |  (((epoch_us(ts) // 3600000000) % 24 + 24) % 24) // 6 AS band,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events)
        |SELECT event_type,
        | CAST(sum(CASE WHEN band = 0 THEN 1 END) AS BIGINT) AS "0_cnt",
        | round(CAST(sum(CASE WHEN band = 0 THEN cents END) AS DOUBLE) / 100,
        |  2) AS "0_val",
        | CAST(sum(CASE WHEN band = 1 THEN 1 END) AS BIGINT) AS "1_cnt",
        | round(CAST(sum(CASE WHEN band = 1 THEN cents END) AS DOUBLE) / 100,
        |  2) AS "1_val",
        | CAST(sum(CASE WHEN band = 2 THEN 1 END) AS BIGINT) AS "2_cnt",
        | round(CAST(sum(CASE WHEN band = 2 THEN cents END) AS DOUBLE) / 100,
        |  2) AS "2_val",
        | CAST(sum(CASE WHEN band = 3 THEN 1 END) AS BIGINT) AS "3_cnt",
        | round(CAST(sum(CASE WHEN band = 3 THEN cents END) AS DOUBLE) / 100,
        |  2) AS "3_val"
        |FROM b GROUP BY 1""".stripMargin,
    // The q44 chain (MinHash sig → bands → est-jaccard prefilter → exact
    // verify) and the q70 exact chain at the same threshold, labelled
    // through ONE recursive CTE keyed by side, then graded pair-level on
    // cluster co-membership.
    "q355_dedup_scorecard" ->
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
        |predp AS (
        | SELECT c.id_a AS ia, c.id_b AS ib
        | FROM cand c JOIN shd a ON a.doc_id = c.id_a JOIN shd b ON b.doc_id = c.id_b
        | WHERE CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
        |   / (len(a.sd) + len(b.sd) - len(list_intersect(a.sd, b.sd))) >= 0.3),
        |truep AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib
        | FROM shd a JOIN shd b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
        |   / (len(a.sd) + len(b.sd) - len(list_intersect(a.sd, b.sd))) >= 0.3),
        |e AS (SELECT 'p' AS side, ia AS a, ib AS b FROM predp
        |      UNION ALL SELECT 'p', ib, ia FROM predp
        |      UNION ALL SELECT 't', ia, ib FROM truep
        |      UNION ALL SELECT 't', ib, ia FROM truep),
        |cc(side, node, label) AS (
        | SELECT s.side, d.doc_id, d.doc_id
        | FROM documents d CROSS JOIN (VALUES ('p'), ('t')) s(side)
        | UNION
        | SELECT e.side, e.a, cc.label FROM e
        | JOIN cc ON cc.side = e.side AND cc.node = e.b
        | WHERE cc.label < e.a),
        |lab AS (SELECT side, node, min(label) AS l FROM cc GROUP BY side, node),
        |cp AS (SELECT a.node AS ia, b.node AS ib FROM lab a JOIN lab b
        |        ON a.side = 'p' AND b.side = 'p' AND a.l = b.l AND a.node < b.node),
        |ct AS (SELECT a.node AS ia, b.node AS ib FROM lab a JOIN lab b
        |        ON a.side = 't' AND b.side = 't' AND a.l = b.l AND a.node < b.node),
        |m AS (
        | SELECT
        |  CAST(coalesce(sum(CASE WHEN cp.ia IS NOT NULL AND ct.ia IS NOT NULL
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
        |  CAST(coalesce(sum(CASE WHEN cp.ia IS NOT NULL AND ct.ia IS NULL
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
        |  CAST(coalesce(sum(CASE WHEN cp.ia IS NULL AND ct.ia IS NOT NULL
        |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        | FROM cp FULL OUTER JOIN ct ON cp.ia = ct.ia AND cp.ib = ct.ib),
        |pc AS (SELECT CAST(count(*) AS BIGINT) AS pred_clusters FROM
        |  (SELECT l FROM lab WHERE side = 'p' GROUP BY l HAVING count(*) >= 2)),
        |tc AS (SELECT CAST(count(*) AS BIGINT) AS truth_clusters FROM
        |  (SELECT l FROM lab WHERE side = 't' GROUP BY l HAVING count(*) >= 2))
        |SELECT tp, fp, fn,
        | CASE WHEN tp + fp > 0
        |  THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
        | CASE WHEN tp + fn > 0
        |  THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS rec,
        | CASE WHEN tp * 2 + fp + fn > 0
        |  THEN round(CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn), 6) END AS f1,
        | pred_clusters, truth_clusters
        |FROM m, pc, tc""".stripMargin,
    // Exact doubled average ranks (q334's device); the Σ R²/n fold runs
    // over the list ORDERed by group so both engines add in the same
    // sequence.
    "q356_kruskal_wallis" ->
      """WITH b AS (
        | SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |byc AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1),
        |pp AS (
        | SELECT c, t, coalesce(CAST(sum(t) OVER (ORDER BY c
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS cum_before
        | FROM byc),
        |per AS (
        | SELECT event_type, CAST(sum(g) AS BIGINT) AS ng,
        |  sum(CAST(g AS HUGEINT) * (2 * cum_before + t + 1)) AS r2
        | FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS g
        |       FROM b GROUP BY 1, 2) byct
        | JOIN pp USING (c) GROUP BY 1),
        |ties AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS t3 FROM byc),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
        |        CAST(count(*) AS BIGINT) AS k FROM per),
        |f AS (SELECT list_reduce(list_transform(
        |   list(struct_pack(ng := ng, r2d := CAST(r2 AS DOUBLE))
        |     ORDER BY event_type),
        |   x -> (x.r2d / 2) * (x.r2d / 2) / CAST(x.ng AS DOUBLE)),
        |   (a, b) -> a + b) AS srn
        | FROM per)
        |SELECT nn AS n, k,
        | round(((12.0 / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))) * srn
        |   - 3.0 * CAST(nn + 1 AS DOUBLE))
        |  / (1.0 - CAST(t3 AS DOUBLE)
        |   / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
        |    - CAST(nn AS DOUBLE))), 6) AS h
        |FROM f, tot, ties""".stripMargin,
    // 2·|c − median| keeps the deviations integral (medians are
    // half-integral); only Σ S²/n is float, folded in group order.
    "q357_levene_bf" ->
      """WITH b AS (
        | SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |med AS (SELECT event_type,
        |  CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS m2
        | FROM b GROUP BY 1),
        |z AS (SELECT b.event_type, abs(b.c * 2 - med.m2) AS z
        |      FROM b JOIN med USING (event_type)),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |  CAST(sum(z) AS BIGINT) AS sg, sum(CAST(z AS HUGEINT) * z) AS qg
        | FROM z GROUP BY 1),
        |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
        |  CAST(count(*) AS BIGINT) AS k, sum(CAST(sg AS HUGEINT)) AS st,
        |  sum(qg) AS qt FROM per),
        |f AS (SELECT list_reduce(list_transform(
        |   list(struct_pack(ng := ng, sgd := CAST(sg AS DOUBLE))
        |     ORDER BY event_type),
        |   x -> x.sgd * x.sgd / CAST(x.ng AS DOUBLE)),
        |   (a, b) -> a + b) AS srn
        | FROM per)
        |SELECT nn AS n, k,
        | round(((srn - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |     / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
        |  / ((CAST(qt AS DOUBLE) - srn) / CAST(nn - k AS DOUBLE)), 6) AS w
        |FROM f, tot""".stripMargin,
    // HUGEINT power sums (cents⁴ overflows int64 per row) mirror the
    // Spark DECIMAL(38,0) sums bit-exactly through the double cast.
    "q358_jarque_bera" ->
      """WITH per AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS s1,
        |  sum(CAST(c AS HUGEINT) * c) AS s2,
        |  sum(CAST(c AS HUGEINT) * c * c) AS s3,
        |  sum(CAST(c AS HUGEINT) * c * c * c) AS s4
        | FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        |       FROM events) GROUP BY 1),
        |mm AS (
        | SELECT event_type, n,
        |  CAST(s2 AS DOUBLE) / nd - mean * mean AS m2,
        |  CAST(s3 AS DOUBLE) / nd - 3.0 * mean * (CAST(s2 AS DOUBLE) / nd)
        |   + 2.0 * mean * mean * mean AS m3,
        |  CAST(s4 AS DOUBLE) / nd - 4.0 * mean * (CAST(s3 AS DOUBLE) / nd)
        |   + 6.0 * mean * mean * (CAST(s2 AS DOUBLE) / nd)
        |   - 3.0 * mean * mean * mean * mean AS m4,
        |  nd
        | FROM (SELECT *, CAST(n AS DOUBLE) AS nd,
        |        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM per)),
        |sk AS (
        | SELECT event_type, n, nd, m3 / (sqrt(m2) * m2) AS skew,
        |  m4 / (m2 * m2) - 3.0 AS kurt
        | FROM mm)
        |SELECT event_type, n, round(skew, 6) AS skew,
        | round(kurt, 6) AS kurt_excess,
        | round(nd / 6.0 * (skew * skew + kurt * kurt / 4.0), 4) AS jb
        |FROM sk""".stripMargin,
    // Deviations ride the n-scaled integer |c·n − S|; the argmax
    // tie-break (dev DESC, event_id ASC) replays via row_number.
    "q359_grubbs" ->
      """WITH b AS (
        | SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sc, sum(CAST(c AS HUGEINT) * c) AS qc
        | FROM b GROUP BY 1),
        |j AS (SELECT b.event_type, b.event_id, st.n, st.sc, st.qc,
        |  abs(b.c * st.n - st.sc) AS dev,
        |  row_number() OVER (PARTITION BY b.event_type
        |   ORDER BY abs(b.c * st.n - st.sc) DESC, b.event_id ASC) AS rn
        | FROM b JOIN st USING (event_type))
        |SELECT event_type, n,
        | round((CAST(dev AS DOUBLE) / CAST(n AS DOUBLE))
        |  / sqrt((CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |    / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)), 6) AS g,
        | event_id AS outlier_event_id
        |FROM j WHERE rn = 1""".stripMargin,
    "q360_max_drawdown" ->
      """WITH b AS (
        | SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS tsu, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |dd AS (
        | SELECT event_type,
        |  max(c) OVER (PARTITION BY event_type ORDER BY tsu, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS dd
        | FROM b)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(CAST(max(dd) AS DOUBLE) / 100, 2) AS max_drawdown
        |FROM dd GROUP BY 1""".stripMargin,
    // 2·r̄ = 2(rank−1) + ties + 1 keeps within-block average ranks
    // integral; only complete blocks rank.
    "q361_friedman" ->
      """WITH cell AS (
        | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv
        | FROM events GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |       FROM cell),
        |complete AS (
        | SELECT c.*, kk.k FROM cell c, kk
        | WHERE (SELECT count(*) FROM cell c2 WHERE c2.day = c.day) = kk.k),
        |ranked AS (
        | SELECT event_type, k,
        |  2 * (rank() OVER (PARTITION BY day ORDER BY sv) - 1)
        |   + count(*) OVER (PARTITION BY day, sv) + 1 AS r2
        | FROM complete),
        |per AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS rr2,
        |  CAST(count(*) AS BIGINT) AS nb, max(k) AS k
        | FROM ranked GROUP BY 1),
        |tot AS (SELECT max(nb) AS n_blocks, max(k) AS k FROM per),
        |f AS (SELECT list_reduce(list_transform(
        |   list(CAST(rr2 AS DOUBLE) ORDER BY event_type),
        |   x -> (x / 2) * (x / 2)), (a, b) -> a + b) AS sr2
        | FROM per)
        |SELECT n_blocks, k,
        | round(12.0 / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
        |    * CAST(k + 1 AS DOUBLE)) * sr2
        |  - 3.0 * CAST(n_blocks AS DOUBLE) * CAST(k + 1 AS DOUBLE), 6)
        |  AS chi2
        |FROM f, tot""".stripMargin,
    // Tie-canonical AP: distinct-score blocks descending; the one float
    // fold runs in the same sc-DESC order on both engines (list_reduce
    // left fold == Spark aggregate with 0D init, since 0 + x = x exactly).
    // sc replays Spark's pmod device so the floor is sign-safe.
    "q362_average_precision" ->
      """WITH base AS (
        | SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab,
        |  (CAST(round(value * 100) AS BIGINT)
        |   - ((CAST(round(value * 100) AS BIGINT) % 100) + 100) % 100)
        |   // 100 AS sc
        | FROM events),
        |byc AS (SELECT sc, CAST(count(*) AS BIGINT) AS t,
        |  CAST(sum(lab) AS BIGINT) AS ta FROM base GROUP BY 1),
        |cum AS (
        | SELECT sc, ta,
        |  CAST(sum(t) OVER (ORDER BY sc DESC) AS BIGINT) AS ct,
        |  CAST(sum(ta) OVER (ORDER BY sc DESC) AS BIGINT) AS cta
        | FROM byc),
        |tot AS (SELECT CAST(sum(ta) AS BIGINT) AS n_pos,
        |  CAST(count(*) AS BIGINT) AS n_scores FROM byc),
        |f AS (SELECT list_reduce(
        |   list(CAST(ta AS DOUBLE)
        |     * (CAST(cta AS DOUBLE) / CAST(ct AS DOUBLE))
        |    ORDER BY sc DESC),
        |   (a, b) -> a + b) AS ap_sum
        | FROM cum)
        |SELECT n_pos, n_scores,
        | CASE WHEN n_pos > 0
        |  THEN round(ap_sum / CAST(n_pos AS DOUBLE), 6) END AS ap
        |FROM f, tot""".stripMargin,
    // Close price via rd=1 row_number (q352's device ≡ Spark's
    // max_by(c, (tsu, event_id))); TR/ATR sums stay in exact cents,
    // so max/arg_max over s14 are order-free.
    "q363_atr" ->
      """WITH b AS (
        | SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
        |  CAST(epoch_us(ts) AS BIGINT) AS tsu, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |r AS (SELECT event_type, hour, c,
        |  row_number() OVER (PARTITION BY event_type, hour
        |   ORDER BY tsu DESC, event_id DESC) AS rd
        | FROM b),
        |bars AS (
        | SELECT event_type, hour, max(c) AS hi, min(c) AS lo,
        |  max(CASE WHEN rd = 1 THEN c END) AS cl
        | FROM r GROUP BY 1, 2),
        |lagged AS (
        | SELECT event_type, hour, hi, lo,
        |  lag(cl) OVER (PARTITION BY event_type ORDER BY hour) AS pc
        | FROM bars),
        |tr AS (
        | SELECT event_type, hour,
        |  greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS tr
        | FROM lagged WHERE pc IS NOT NULL),
        |w AS (
        | SELECT event_type, hour,
        |  CAST(sum(tr) OVER win AS BIGINT) AS s14,
        |  count(*) OVER win AS k14
        | FROM tr
        | WINDOW win AS (PARTITION BY event_type ORDER BY hour
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_full,
        | round(CAST(max(s14) AS DOUBLE) / 1400, 4) AS max_atr,
        | round(CAST(arg_max(s14, hour) AS DOUBLE) / 1400, 4) AS last_atr
        |FROM w WHERE k14 = 14 GROUP BY 1""".stripMargin,
    // Integer threshold forms (3G ≥ 7L / 3L ≥ 7G) keep the bucket
    // counts float-free; only max_rsi divides, as an exact-long ratio.
    "q364_rsi" ->
      """WITH b AS (
        | SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS tsu, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |d AS (
        | SELECT event_type, tsu, event_id,
        |  c - lag(c) OVER (PARTITION BY event_type
        |   ORDER BY tsu, event_id) AS df
        | FROM b),
        |w AS (
        | SELECT event_type,
        |  sum(greatest(df, 0)) OVER win AS g,
        |  sum(greatest(-df, 0)) OVER win AS l,
        |  count(*) OVER win AS k14
        | FROM d WHERE df IS NOT NULL
        | WINDOW win AS (PARTITION BY event_type ORDER BY tsu, event_id
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_windows,
        | CAST(sum(CASE WHEN g + l > 0 AND g * 3 >= l * 7
        |   THEN 1 ELSE 0 END) AS BIGINT) AS overbought,
        | CAST(sum(CASE WHEN g + l > 0 AND l * 3 >= g * 7
        |   THEN 1 ELSE 0 END) AS BIGINT) AS oversold,
        | round(max(CASE WHEN g + l > 0 THEN 100.0 * CAST(g AS DOUBLE)
        |   / CAST(g + l AS DOUBLE) END), 4) AS max_rsi
        |FROM w WHERE k14 = 14 GROUP BY 1""".stripMargin,
    // The oracle replays the theta join DIRECTLY (no grid): each
    // (user, day) × (type, day) interval pair overlapping in time —
    // the grid-cell device on the Spark side provably finds exactly
    // these pairs (overlap at t ⇒ both cover cell ⌊t/W⌋; cell
    // agreement is then verified by the exact predicate).
    "q365_interval_overlap" ->
      """WITH b AS (
        | SELECT event_type, user_id,
        |  epoch_us(ts) // 86400000000 AS day,
        |  CAST(epoch_us(ts) AS BIGINT) AS tsu
        | FROM events),
        |a AS (SELECT user_id, day, min(tsu) AS a_s, max(tsu) AS a_e
        | FROM b GROUP BY 1, 2),
        |p AS (SELECT event_type, day, min(tsu) AS b_s, max(tsu) AS b_e
        | FROM b GROUP BY 1, 2),
        |pairs AS (
        | SELECT p.event_type,
        |  least(a.a_e, p.b_e) - greatest(a.a_s, p.b_s) AS ov
        | FROM a, p WHERE a.a_s <= p.b_e AND p.b_s <= a.a_e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        | round(CAST(sum(ov) AS DOUBLE) / 1000000, 2) AS overlap_seconds
        |FROM pairs GROUP BY 1""".stripMargin,
    // Every float fold (s1, s2 per word; the per-pair |Δz| sum) runs
    // over a list ORDERed exactly as Spark's sort_array — source asc
    // per word, word asc per pair — so the sums are bit-identical.
    // sig/mu/z replay Spark's op sequence term for term.
    "q366_burrows_delta" ->
      """WITH toks AS (
        | SELECT source, unnest(string_split(text, ' ')) AS w
        | FROM documents),
        |tk AS (SELECT source, w FROM toks WHERE len(w) > 0),
        |top AS (
        | SELECT w FROM (SELECT w, count(*) AS cnt FROM tk GROUP BY 1
        |  ORDER BY cnt DESC, w ASC LIMIT 20)),
        |totals AS (SELECT source, count(*) AS tot FROM tk GROUP BY 1),
        |sw AS (SELECT tk.source, tk.w, count(*) AS c FROM tk
        | JOIN top ON tk.w = top.w GROUP BY 1, 2),
        |dense AS (
        | SELECT t.source, p.w,
        |  CAST(coalesce(sw.c, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE) AS f
        | FROM totals t CROSS JOIN top p
        | LEFT JOIN sw ON sw.source = t.source AND sw.w = p.w),
        |stats AS (
        | SELECT w,
        |  list_reduce(list(f ORDER BY source), (a, b) -> a + b) AS s1,
        |  list_reduce(list(f * f ORDER BY source), (a, b) -> a + b) AS s2,
        |  CAST(count(*) AS DOUBLE) AS k
        | FROM dense GROUP BY 1),
        |st AS (
        | SELECT w, s1 / k AS mu,
        |  sqrt(s2 / k - (s1 / k) * (s1 / k)) AS sig
        | FROM stats),
        |z AS (
        | SELECT d.source, d.w, (d.f - st.mu) / st.sig AS z
        | FROM dense d JOIN st ON d.w = st.w WHERE st.sig > 0),
        |pairs AS (
        | SELECT a.source AS source_a, b.source AS source_b,
        |  list_reduce(list(abs(a.z - b.z) ORDER BY a.w),
        |   (x, y) -> x + y) AS sd,
        |  CAST(count(*) AS DOUBLE) AS k
        | FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT source_a, source_b, round(sd / k, 6) AS delta
        |FROM pairs""".stripMargin,
    // quantile_cont ≡ Spark's exact percentile (type-7 interpolation);
    // the explicit round() on the ×10 decile domain is the shared
    // contract — 10·p is integral ± each engine's float noise.
    "q367_trimmed_mean" ->
      """WITH base AS (
        | SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |qs AS (
        | SELECT event_type,
        |  CAST(round(quantile_cont(c, 0.1) * 10) AS BIGINT) AS p10x,
        |  CAST(round(quantile_cont(c, 0.9) * 10) AS BIGINT) AS p90x
        | FROM base GROUP BY 1),
        |agg AS (
        | SELECT b.event_type, CAST(count(*) AS BIGINT) AS n,
        |  sum(CASE WHEN b.c * 10 >= qs.p10x AND b.c * 10 <= qs.p90x
        |    THEN b.c END) AS s_in,
        |  sum(CASE WHEN b.c * 10 >= qs.p10x AND b.c * 10 <= qs.p90x
        |    THEN 1 END) AS n_in,
        |  sum(CASE WHEN b.c * 10 < qs.p10x THEN 1 ELSE 0 END) AS n_lo,
        |  sum(CASE WHEN b.c * 10 > qs.p90x THEN 1 ELSE 0 END) AS n_hi,
        |  max(qs.p10x) AS p10x, max(qs.p90x) AS p90x
        | FROM base b JOIN qs ON b.event_type = qs.event_type
        | GROUP BY 1)
        |SELECT event_type, n,
        | round(CAST(s_in AS DOUBLE) / CAST(n_in AS DOUBLE) / 100, 4)
        |  AS trimmed_mean,
        | round(CAST(s_in * 10 + n_lo * p10x + n_hi * p90x AS DOUBLE)
        |  / (CAST(n AS DOUBLE) * 1000), 4) AS winsorized_mean
        |FROM agg""".stripMargin
  )
}
