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

/** Queries q301–q336 (36 entries) — rank/robust statistics (Kendall, ACF, runs, Mann-Kendall, ROC),
  * forecast eval, drift, fusion, geo/eval harnesses.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart7 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // TPC-H Q5 shape — the snowflake "local supplier volume" join: fact ⋈
    // orders ⋈ customer ⋈ supplier with the *non-key* equality
    // c_nationkey = s_nationkey (the classic join-graph cycle), nation ⋈
    // region folded to a broadcast dimension. The fact shuffles once per
    // big key (orderkey, custkey, suppkey); the region filter prunes the
    // nation broadcast to 5 rows BEFORE it touches the fact, and the date
    // band reaches the orders scan. Revenue rides exact cent longs.
    "q301_tpch_q5" -> ((s, d) => {
      val asia = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA")
          .select(col("r_regionkey").as("n_regionkey"))), "n_regionkey")
        .select(col("n_nationkey"), col("n_name"))
      val o96 = ord(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"),
          col("s_nationkey").as("n_nationkey"))
      li(s, d).select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("__c"))
        .join(o96, "l_orderkey")
        .join(cust, "o_custkey")
        .join(sup, "l_suppkey")
        .filter(col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), "n_nationkey")
        .groupBy("n_name")
        .agg(round(sum(col("__c")).cast("double") / 100, 2).as("revenue"))
    }),
    // TPC-H Q6 shape — the pure predicate-pushdown showcase: a
    // filter-everything scalar aggregate whose date band + discount band +
    // quantity cap must ALL reach the parquet scan (PushedFilters shows
    // the full conjunction; the scan reads 4 of 11 columns). No shuffle
    // beyond the 1-row partial-agg merge. Forecast-revenue cents exact.
    "q302_tpch_q6" -> ((s, d) => {
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(
          round(sum(round(col("l_extendedprice") * col("l_discount") * 100)
            .cast("long")).cast("double") / 100, 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    // TPC-H Q7 shape — "volume shipping" between two nations in both
    // directions: the supplier and customer legs each pre-join their
    // 2-row nation slice (broadcast) BEFORE touching the fact, so only
    // lines with a qualifying supplier survive the first join — the
    // disjunctive (N1→N2 OR N2→N1) pair filter then needs no fact
    // re-scan. Ship-year grouping keeps the output 2 nations × 2 years.
    "q303_tpch_q7" -> ((s, d) => {
      // NATION_3/NATION_8 (not 1/2): the sf0.001 slice has suppliers in
      // only 10 nations — this pair is the Q7 shape AND nonempty at the
      // smallest fixture.
      val pair = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_3", "NATION_8"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        .join(broadcast(pair.select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("supp_nation"))), "s_nationkey")
        .select("l_suppkey", "supp_nation")
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        .join(broadcast(pair.select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("cust_nation"))), "c_nationkey")
        .select("o_custkey", "cust_nation")
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("__c"))
        .join(sup, "l_suppkey")
        .join(ord(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey")), "l_orderkey")
        .join(cust, "o_custkey")
        .filter((col("supp_nation") === "NATION_3" &&
            col("cust_nation") === "NATION_8") ||
          (col("supp_nation") === "NATION_8" &&
            col("cust_nation") === "NATION_3"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(round(sum(col("__c")).cast("double") / 100, 2).as("revenue"))
    }),
    // TPC-H Q8 shape — "national market share": of all ECONOMY-part
    // revenue sold into the AMERICA region per order year, what fraction
    // came from NATION_3 suppliers. The CASE-sum / sum ratio rides two
    // exact cent-long sums in ONE aggregate (no second pass, no join of
    // two aggregates); part and both nation slices broadcast; the fact
    // shuffles on its join keys only. Ratio mirrored at 6 dp.
    "q304_tpch_q8" -> ((s, d) => {
      val eco = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey").as("l_partkey"))
      val amer = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "AMERICA")
          .select(col("r_regionkey").as("n_regionkey"))), "n_regionkey")
        .select(col("n_nationkey").as("c_nationkey"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        .join(broadcast(amer), Seq("c_nationkey"), "left_semi")
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nationkey"),
            col("n_name").as("supp_nation"))), "s_nationkey")
        .select("l_suppkey", "supp_nation")
      li(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("__c"))
        .join(broadcast(eco), "l_partkey")
        .join(ord(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          "l_orderkey")
        .join(cust, "o_custkey")
        .join(sup, "l_suppkey")
        .groupBy("o_year")
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", col("__c"))
            .otherwise(0L)).cast("double") /
            sum(col("__c")), 6).as("mkt_share"))
    }),
    // TPC-H Q9 shape — "product-type profit" by supplier nation and order
    // year, parts selected by a LIKE on p_name. The schema has no
    // partsupp, so supply cost is proxied at 2% of retail price per unit
    // (documented adaptation — the plan shape, a 5-way join with a
    // substring part filter feeding a two-key rollup, is the point).
    // Profit = revenue cents − cost cents, each rounded per-row so the
    // subtraction is integer-exact on both engines.
    "q305_tpch_q9" -> ((s, d) => {
      val pk = Tables.part(s, d).filter(col("p_name").contains("widget"))
        .select(col("p_partkey").as("l_partkey"), col("p_retailprice"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nationkey"),
            col("n_name").as("nation"))), "s_nationkey")
        .select("l_suppkey", "nation")
      li(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(pk), "l_partkey")
        .select(col("l_orderkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long") -
           round(col("p_retailprice") * col("l_quantity") * 2).cast("long"))
            .as("__p"))
        .join(sup, "l_suppkey")
        .join(ord(s, d).select(col("o_orderkey").as("l_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")), "l_orderkey")
        .groupBy("nation", "o_year")
        .agg(round(sum(col("__p")).cast("double") / 100, 2).as("sum_profit"))
    }),
    // TPC-H Q10 shape — "returned-item reporting": revenue lost to
    // returns in one quarter, attributed to customers. The heavy
    // reduction happens FIRST (one custkey-grouped agg over the filtered
    // fact ⋈ orders), and only the surviving ~|customers-with-returns|
    // rows join the customer attributes and the nation broadcast — the
    // textbook group-by-every-attribute form would drag c_name/c_acctbal
    // through the big shuffle for nothing.
    "q306_tpch_q10" -> ((s, d) => {
      val oq = ord(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      li(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("__c"))
        .join(oq, "l_orderkey")
        .groupBy("o_custkey").agg(sum(col("__c")).as("__rev"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_name"),
            col("c_acctbal"), col("c_nationkey")), "o_custkey")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
          "c_nationkey")
        .select(col("o_custkey").as("c_custkey"), col("c_name"),
          round(col("__rev").cast("double") / 100, 2).as("revenue"),
          col("c_acctbal"), col("n_name"))
    }),
    // TPC-H Q12 shape — conditional priority counts over a lateness join
    // (adapted: the schema has no shipmode/commitdate, so "late" is
    // shipped >60 days after the order date and the 2-row group key is
    // l_linestatus). The CASE-sums split one count by a predicate on the
    // JOINED side — the shape that turns two fact passes into one.
    "q307_tpch_q12" -> ((s, d) => {
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipdate"), col("l_linestatus"))
        .join(ord(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_orderdate"), col("o_orderpriority")), "l_orderkey")
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),
    // TPC-H Q14 shape — "promotion effect": a CASE-sum / sum percentage
    // over one month of the fact ⋈ a broadcast part dimension. Both sums
    // are exact cent longs out of ONE aggregate; the division is the only
    // float op and is mirrored at 6 dp.
    "q308_tpch_q14" -> ((s, d) => {
      li(s, d)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("l_partkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("__c"))
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey").as("l_partkey"), col("p_type"))),
          "l_partkey")
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("__c")).otherwise(0L))
            .cast("double") / sum(col("__c")), 6).as("promo_revenue"))
    }),
    // TPC-H Q19 shape — the disjunctive OR-of-ANDs join predicate
    // ("discounted revenue for three brand/size/quantity envelopes").
    // The common support of the three branches is extracted BY HAND onto
    // each side — part keeps only the three brand+size envelopes (a
    // 3-branch OR a row store can evaluate per file via min/max stats),
    // lineitem keeps qty ∈ [1, 30] — so the join input is already narrow
    // and only the residual brand×quantity disjunction runs post-join;
    // leaving the whole OR as a join condition would force the optimizer
    // to choose between no pushdown and a nested-loop join.
    "q309_tpch_q19" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#15" && col("p_size").between(1, 15)))
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      li(s, d)
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long").as("__c"))
        .join(broadcast(p), "l_partkey")
        .filter((col("p_brand") === "Brand#12" &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#15" &&
            col("l_quantity").between(20, 30)))
        .agg(round(sum(col("__c")).cast("double") / 100, 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    // Mean reciprocal rank — the retrieval-eval companion to NDCG (q229)
    // and recall curves (q230/q233): for a BATCH of queries, 1/rank of
    // the first relevant hit in the top-10. The batch form scores ALL
    // queries in one pass (tf of query terms + per-doc lengths + one
    // rank window partitioned by query) instead of one BM25 run per
    // query — at 100 TB with a token-bucketed postings layout (q118)
    // this touches only the query terms' postings. Each query here is a
    // single term, so the BM25 score needs no cross-term sum; relevance
    // = tf ≥ 2 (so top-ranked single-occurrence docs are irrelevant and
    // the metric is non-trivial). Scores round 4 dp before ranking
    // (ln() is libm-dependent — the Bm25 house rule); rank ties break
    // by doc_id.
    "q310_mrr" -> ((s, d) => {
      val terms = Seq("vector", "join", "scan")
      val p = doc(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      val tf = p.filter(col("token").isin(terms: _*))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dl = p.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val scalars = doc(s, d).agg(count(lit(1)).as("n_docs"))
        .crossJoin(p.agg(count(lit(1)).as("total_toks")))
        .select(col("n_docs"),
          (col("total_toks").cast("double") / col("n_docs")).as("avgdl"))
      val df_ = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) + (col("n_docs").cast("double") - col("df") +
        lit(0.5)) / (col("df") + lit(0.5)))
      val tfNorm = col("tf").cast("double") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      val scored = tf.join(broadcast(df_), Seq("token"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(scalars))
        .select(col("token"), col("doc_id"), col("tf"),
          round(idf * tfNorm, 4).as("score"))
      val ranked = scored.withColumn("rnk", row_number().over(
          Window.partitionBy("token")
            .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rnk") <= 10)
      ranked.groupBy(col("token").as("query"))
        .agg(coalesce(min(when(col("tf") >= 2, col("rnk"))), lit(0L))
          .as("first_rel_rank"))
        .withColumn("rr", when(col("first_rel_rank") > 0,
          round(lit(1.0) / col("first_rel_rank"), 6)).otherwise(lit(0.0)))
    }),
    // t-closeness — the third leg of the privacy-audit family
    // (k-anonymity q263, l-diversity q297): per quasi-identifier group,
    // the total-variation distance between the group's
    // sensitive-attribute distribution and the global one. The full
    // (group × bucket) grid is materialized by crossing the bounded
    // per-group agg with the 4-row global bucket table (a missing
    // bucket contributes its full global mass — skipping absent cells
    // understates TVD), counts stay exact longs, and the single float
    // division |c·N − C·n| / (2·n·N) is mirrored at 6 dp. Day-of-week
    // is epoch-day mod 7 (both engines' dayofweek origins differ).
    "q311_t_closeness" -> ((s, d) => {
      val b = ev(s, d).select(col("event_type"),
        (datediff(col("ts"), lit("1970-01-01").cast("timestamp")) % 7)
          .cast("long").as("dow"),
        least(lit(3L), floor(col("value") / 125).cast("long")).as("sb"))
      val cgs = b.groupBy("event_type", "dow", "sb")
        .agg(count(lit(1)).as("__c"))
      val ng = b.groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      val cs = b.groupBy("sb").agg(count(lit(1)).as("__cs"))
      val tot = b.agg(count(lit(1)).as("__n"))
      ng.crossJoin(broadcast(cs)).crossJoin(broadcast(tot))
        .join(cgs, Seq("event_type", "dow", "sb"), "left")
        .withColumn("__c", coalesce(col("__c"), lit(0L)))
        .groupBy("event_type", "dow", "n", "__n")
        .agg(sum(abs(col("__c") * col("__n") - col("__cs") * col("n")))
          .as("__num"))
        .select(col("event_type"), col("dow"), col("n"),
          round(col("__num").cast("double") /
            (lit(2.0) * col("n") * col("__n")), 6).as("tvd"))
    }),
    // Local clustering coefficient — per-node closure over the
    // co-purchase graph (global triangle census: q147): LCC(v) =
    // 2·tri(v) / (deg(v)·(deg(v)−1)). Triangles come from the same
    // degree-oriented O(m^1.5) wedge scheme (Triangles.perNode — each
    // closed wedge credits its three corners), so hub nodes can't blow
    // up the self-join; the coefficient is exact-integer algebra with
    // one mirrored division. Isolated-from-triangles and degree-1
    // nodes report 0.0.
    "q312_local_clustering" -> ((s, d) => {
      graft.graph.Triangles.perNode(copurchasePairs(s, d))
        .select(col("node"), col("deg"), col("tri"),
          when(col("deg") >= 2,
            round(lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)), 6))
            .otherwise(lit(0.0)).as("lcc"))
    }),
    // Cohen's kappa — inter-annotator agreement between two deterministic
    // document raters (the curation-ops question "do my two quality
    // heuristics agree beyond chance?"): rater A flags length
    // (n_chars > 300), rater B flags alphabetic density (alpha ratio
    // > 0.85). One pass: four exact counts from one aggregate, then
    // p_o, p_e, and κ = (p_o − p_e)/(1 − p_e) as mirrored float algebra
    // (guarded: perfect chance agreement p_e = 1 yields NULL, not a
    // divide-by-zero).
    "q313_cohens_kappa" -> ((s, d) => {
      val r = doc(s, d).select(
        (col("n_chars") > 300).cast("long").as("a"),
        (alphaRatio > 0.85).cast("long").as("b"))
      r.agg(count(lit(1)).as("n"), sum(col("a")).as("na"),
          sum(col("b")).as("nb"),
          sum(col("a") * col("b")).as("nab"))
        .select(col("n"),
          round((col("nab") + (col("n") - col("na") - col("nb") +
            col("nab"))).cast("double") / col("n"), 6).as("p_o"),
          round((col("na").cast("double") * col("nb") +
            (col("n") - col("na")).cast("double") * (col("n") - col("nb")))
            / (col("n").cast("double") * col("n")), 6).as("p_e"))
        .withColumn("kappa", when(col("p_e") < 1.0,
          round((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e")), 6)))
    }),
    // Trailing time-RANGE window — the frame type nothing else in the
    // suite exercises: per customer, 90-day trailing spend at every
    // order, as RANGE BETWEEN 89 PRECEDING AND CURRENT ROW over integer
    // order-day (a VALUE-range frame — same-day peer rows aggregate
    // together regardless of intra-day order, which a ROWS frame gets
    // wrong). One keyed exchange on custkey, per-customer partitions
    // bounded; cents exact.
    "q314_trailing_spend" -> ((s, d) => {
      val o = ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp"))
          .cast("long").as("d"),
        round(col("o_totalprice") * 100).cast("long").as("__c"))
      val w = Window.partitionBy("o_custkey").orderBy("d")
        .rangeBetween(-89, 0)
      o.select(col("o_orderkey"), col("o_custkey"), col("d"),
        round(sum(col("__c")).over(w).cast("double") / 100, 2)
          .as("trail_spend"),
        count(lit(1)).over(w).as("trail_n"))
    }),
    // Dynamic partition overwrite — the backfill primitive every
    // partitioned 100 TB table lives by: rewrite ONE day's partition
    // (here: a value correction on 2024-01-10) without touching the
    // other 29 directories. partitionOverwriteMode=dynamic scopes the
    // overwrite to partitions present in the written data — STATIC mode
    // would silently truncate the whole table, the classic backfill
    // footgun. The audit re-read aggregates per day; the oracle computes
    // the expected post-backfill state from the source directly.
    "q315_dynamic_overwrite" -> ((s, d) => {
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q315_dynover_${s.sparkContext.applicationId}").getAbsolutePath
      val base = ev(s, d).withColumn("dt", to_date(col("ts")))
      base.write.partitionBy("dt").mode("overwrite").parquet(out)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        base.filter(col("dt") === lit("2024-01-10"))
          .withColumn("value", col("value") * 2)
          .write.partitionBy("dt").mode("overwrite").parquet(out)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(out)
        .groupBy(col("dt").cast("string").as("dt"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 4).as("sum_value"))
    }),
    // Theil–Sen robust trend — the outlier-immune slope the monitoring
    // family (q172 CUSUM, q268 changepoint) wants: median of pairwise
    // slopes. The full estimator is n² pairs — a scale cliff — so this
    // is the SYSTEMATIC variant: rank each series once (keyed window),
    // pair row i with row i + n/2 (n/2 disjoint-span pairs, one
    // self-join on the rank — linear work, statistically the classic
    // split-pairing form). Same-hour pairs (Δx = 0) are excluded;
    // the median is an exact interpolated percentile over slopes both
    // engines compute bit-identically.
    "q316_theil_sen" -> ((s, d) => {
      val b = Tables.events(s, d).select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("x"),
        col("value").as("v"), col("event_id"))
      val idx = b.select(col("event_type"), col("x"), col("v"),
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("x"), col("event_id"))).cast("long").as("i"),
        count(lit(1)).over(Window.partitionBy("event_type")).as("n"))
      val lo = idx.filter(col("i") <= expr("n DIV 2"))
        .select(col("event_type"), col("i"),
          col("x").as("x1"), col("v").as("v1"))
      val hi = idx.select(col("event_type"),
          (col("i") - expr("n DIV 2")).as("i"),
          col("x").as("x2"), col("v").as("v2"))
      lo.join(hi, Seq("event_type", "i"))
        .filter(col("x2") =!= col("x1"))
        .withColumn("slope",
          (col("v2") - col("v1")) / (col("x2") - col("x1")).cast("double"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("theil_sen_slope"))
    }),
    // Classical additive seasonal decomposition — the hour-of-day
    // profile after detrending with a centered 25-hour moving average
    // (the STL-shaped question "what does traffic look like net of
    // trend?"). Everything before the final division is exact integer
    // algebra: hourly sums ride cents, the detrended residual is kept
    // as 25·y − Σ₂₅y (no float MA), and edge hours without a full
    // 25-observation window are excluded rather than half-averaged.
    // Per-series windows are keyed; the series is hours (bounded).
    "q317_seasonal_decompose" -> ((s, d) => {
      val hourly = Tables.events(s, d).select(col("event_type"),
          expr("unix_micros(ts) DIV 3600000000").as("h"),
          round(col("value") * 100).cast("long").as("__c"))
        .groupBy("event_type", "h").agg(sum(col("__c")).as("y"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-12, 12)
      hourly.select(col("event_type"), col("h"), col("y"),
          sum(col("y")).over(w).as("__s25"),
          count(lit(1)).over(w).as("__k"))
        .filter(col("__k") === 25)
        .groupBy(col("event_type"), (col("h") % 24).as("hod"))
        .agg(count(lit(1)).as("n_obs"),
          round(sum(col("y") * 25 - col("__s25")).cast("double") /
            (lit(25.0) * count(lit(1)) * 100), 4).as("seasonal"))
    }),
    // Flesch reading ease — the classic readability feature curation
    // stacks score documents with (alongside q25's length/punct ratios
    // and q173's Gopher rules). All three inputs are exact integer
    // counts, one regex pass each: words = [^ ]+ runs, sentences =
    // [.!?]+ runs floored at 1, syllables = vowel-group runs (the
    // standard dictionary-free proxy). 206.835 − 1.015·(w/s) −
    // 84.6·(syl/w) is then fixed-order double algebra over exact ints,
    // rounded 4dp both engines. Pure projection — the scan streams,
    // no shuffle at any scale.
    "q318_flesch_readability" -> ((s, d) => {
      val counted = doc(s, d).select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[^ ]+', 0)"))
          .cast("long").as("n_words"),
        greatest(lit(1L), size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
          .cast("long")).as("n_sentences"),
        size(expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
          .cast("long").as("n_syllables"))
      counted.select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        when(col("n_words") > 0, round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
          .as("flesch"))
    }),
    // 1-D energy distance between the click and view value samples —
    // the two-sample drift test that sees location AND shape (unlike
    // q148's KS sup-statistic, which a pure tail change can hide from).
    // The textbook estimator is three n² pairwise kernels — a scale
    // cliff — but in 1-D every Σ|aᵢ−bⱼ| collapses to prefix algebra
    // over the shared value order: with exclusive counts/sums of each
    // sample strictly below v, pairs where v is the LARGER side
    // contribute mult·(v·cnt_lt − sum_lt), and summing that over
    // distinct values counts every pair exactly once (ties contribute
    // 0). GlobalRank's prefix sums keep the order distributed
    // (q148's device), so the whole test is one hash agg + one range-
    // partitioned scan + a 1-row agg — O(n log n). Values ride cents so every
    // pairwise term is exact integer; sums accumulate in decimal(38,0)
    // (BIGINT saturates near 10⁹ rows × 10⁵ cents); the final division
    // is the only float op, rounded 6dp.
    "q319_energy_distance" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val sc = ev(s, d).filter(col("event_type").isin("click", "view"))
        .select(round(col("value") * 100).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("c1"),
          when(col("event_type") === "view", 1L).otherwise(0L).as("c2"))
      val g = sc.groupBy("v")
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        .withColumn("s1", col("v") * col("n1"))
        .withColumn("s2", col("v") * col("n2"))
      val p = graft.operators.GlobalRank.exclusivePrefixSums(
        g, "v", Seq("n1", "n2", "s1", "s2"))
      val t = p.agg(
        sum(col("n1").cast(dec)
            * (col("v") * col("cum_before_n2") - col("cum_before_s2"))
          + col("n2").cast(dec)
            * (col("v") * col("cum_before_n1") - col("cum_before_s1")))
          .as("sxy"),
        sum(col("n1").cast(dec)
          * (col("v") * col("cum_before_n1") - col("cum_before_s1"))).as("sxx2"),
        sum(col("n2").cast(dec)
          * (col("v") * col("cum_before_n2") - col("cum_before_s2"))).as("syy2"),
        sum(col("n1")).as("n"), sum(col("n2")).as("m"))
      // Σ ordered within-sample pairs = 2·(larger-side sum), so the
      // n⁻²-weighted within terms carry the same 2.0 as the cross term
      t.select(col("n").as("n_click"), col("m").as("n_view"),
        round(lit(2.0) * col("sxy").cast("double")
            / (col("n").cast("double") * col("m"))
          - lit(2.0) * col("sxx2").cast("double")
            / (col("n").cast("double") * col("n"))
          - lit(2.0) * col("syy2").cast("double")
            / (col("m").cast("double") * col("m")), 6)
          .as("energy_dist_cents"))
    }),
    // Log-rank test — the standard A/B comparison for time-to-event
    // outcomes (the two-cohort complement of q166's single-sample
    // Kaplan–Meier curve): cohorts = user_id parity, event time = the
    // q166 activity span in days, no censoring (every span ends
    // observed). At each distinct time the observed cohort-A deaths
    // face the hypergeometric expectation d·n1/n with variance
    // d·n1/n·n2/n·(n−d)/(n−1); at-risk counts fall out of exclusive
    // prefix sums (PrefixSum) over the distinct-day table.
    // χ² = (Σ(o−e))²/Σv. Integer counts throughout; the per-time
    // divisions are the only float ops, rounded 4dp after the final
    // 1-row sums.
    "q320_logrank_test" -> ((s, d) => {
      val spans = ev(s, d).groupBy(col("user_id"))
        .agg(datediff(max(col("ts")), min(col("ts"))).cast("long").as("t"))
        .select(col("t"), (col("user_id") % 2).as("g"))
      val dt = spans.groupBy("t").agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("d1"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("d2"))
      val tot = dt.agg(sum(col("d1")).as("__N1"), sum(col("d2")).as("__N2"))
      val base = PrefixSum(dt, Seq(col("t")), PrefixSum.Sum(col("d1"), "__b1"),
          PrefixSum.Sum(col("d2"), "__b2"))
        .crossJoin(broadcast(tot))
        .withColumn("n1", col("__N1") - col("__b1"))
        .withColumn("n2", col("__N2") - col("__b2"))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("dd", col("d1") + col("d2"))
        .filter(col("n") > 1) // n=1 terms contribute 0 to o−e, v undefined
      val r = base.agg(
        max(col("__N1")).as("n_a"), max(col("__N2")).as("n_b"),
        sum(col("d1")).as("o1"),
        sum(col("dd").cast("double") * col("n1") / col("n")).as("e1"),
        sum(col("dd").cast("double") * col("n1") / col("n") * col("n2")
          / col("n") * (col("n") - col("dd")) / (col("n") - 1)).as("v1"))
      r.select(col("n_a"), col("n_b"), col("o1"),
        round(col("e1"), 4).as("e1"),
        round(when(col("v1") > 0,
          (col("o1") - col("e1")) * (col("o1") - col("e1")) / col("v1")), 4)
          .as("chi2"))
    }),
    // Difference-in-differences — the workhorse quasi-experimental
    // estimator: cohort = user_id parity (odd = treated), period = the
    // fixture midpoint (post = day ≥ 2024-01-16), outcome = value. The
    // 2×2 cell-mean double difference nets out both the cohort baseline
    // and the common time shock; SE is the pooled variance of a
    // difference of four independent means (√Σ sᵢ²/nᵢ). Cents-exact
    // moments (Σc, Σc² in decimal(38,0) — c² sums pass BIGINT around
    // 10¹⁰ rows) make every cell statistic exact integer algebra until
    // the divisions, guarded against empty/singleton/zero-variance
    // cells to deterministic NULL (the q246 ANSI lesson). One
    // conditional aggregate — nothing shuffles wider than 4 rows.
    "q321_diff_in_diff" -> ((s, d) => {
      val g = ev(s, d).select(
          (col("user_id") % 2).as("tr"),
          when(to_date(col("ts")) >= lit("2024-01-16"), 1L)
            .otherwise(0L).as("po"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy("tr", "po").agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
      def pick(t: Int, p: Int, c: String) =
        max(when(col("tr") === t && col("po") === p, col(c)))
      val r = g.agg(
        pick(0, 0, "n").as("n00"), pick(0, 1, "n").as("n01"),
        pick(1, 0, "n").as("n10"), pick(1, 1, "n").as("n11"),
        pick(0, 0, "s").as("s00"), pick(0, 1, "s").as("s01"),
        pick(1, 0, "s").as("s10"), pick(1, 1, "s").as("s11"),
        pick(0, 0, "q").as("q00"), pick(0, 1, "q").as("q01"),
        pick(1, 0, "q").as("q10"), pick(1, 1, "q").as("q11"))
      def m(sc: String, n: String) = col(sc).cast("double") / col(n)
      def v(q: String, sc: String, n: String) = when(col(n) > 1,
        (col(q).cast("double") - col(sc).cast("double") * col(sc) / col(n))
          / (col(n) - 1))
      val didC = when(col("n00") > 0 && col("n01") > 0
          && col("n10") > 0 && col("n11") > 0,
        (m("s11", "n11") - m("s10", "n10")) - (m("s01", "n01") - m("s00", "n00")))
      val seVar = v("q00", "s00", "n00") / col("n00") +
        v("q01", "s01", "n01") / col("n01") +
        v("q10", "s10", "n10") / col("n10") +
        v("q11", "s11", "n11") / col("n11")
      r.select(col("n00"), col("n01"), col("n10"), col("n11"),
        round(didC / 100, 4).as("did"),
        round(when(seVar > 0, sqrt(seVar) / 100), 4).as("se"),
        round(when(seVar > 0, didC / sqrt(seVar)), 4).as("t_stat"))
    }),
    // U-shaped (position-based) multi-touch attribution — the
    // fractional-credit refinement of q231's first/last-touch: each
    // purchase's hour-window click path pays 40% to the first touch,
    // 40% to the last, and splits 20% across the middle (1.0 / 0.5–0.5
    // for paths of one/two). Same banded equi-join as q231 (a click's
    // hour band meets the purchase's two probe bands — never a raw
    // theta join), then per-purchase rank windows (bounded by path
    // length) and one hour-of-day roll-up. Credits are exact binary
    // fractions except the middle split; the aggregate is rounded 4dp.
    "q322_position_attribution" -> ((s, d) => {
      val hourUs = 3600000000L
      val evd = ev_(s, d)
      val purchases = evd.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          col("tsu").as("ptsu"))
      val clicks = evd.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id"),
          col("tsu").as("ctsu"))
        .withColumn("band", expr(s"ctsu DIV $hourUs"))
      val probes = purchases.withColumn("band",
        explode(array(expr(s"ptsu DIV $hourUs"),
          expr(s"ptsu DIV $hourUs - 1"))))
      val j = probes.join(clicks, Seq("band", "user_id"))
        .filter(col("ctsu") <= col("ptsu") &&
          col("ctsu") >= col("ptsu") - hourUs)
        .select(col("pid"), col("cid"), col("ctsu"))
      val ranked = j
        .withColumn("i", row_number().over(
          Window.partitionBy("pid").orderBy(col("ctsu").asc, col("cid").asc)))
        .withColumn("nc", count(lit(1)).over(Window.partitionBy("pid")))
      ranked.withColumn("credit",
          when(col("nc") === 1, lit(1.0))
            .when(col("nc") === 2, lit(0.5))
            .when(col("i") === 1 || col("i") === col("nc"), lit(0.4))
            .otherwise(lit(0.2) / (col("nc") - 2)))
        .groupBy(expr(s"ctsu DIV $hourUs % 24").as("hod"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(col("credit")), 4).as("credit"))
    }),
    // Lead–lag cross-correlation between hourly click and purchase
    // counts at lags −3…+3 — "how many hours does conversion trail
    // traffic?", the two-series companion of q167's ACF and its exact
    // shape: one hourly hash agg, a 7-way explode of the bounded hour
    // relation, one integer equi-join per lag, and Pearson from exact
    // integer sums (bit-deterministic doubles — no rounding seam).
    // Degenerate variance guards to NULL (the q246 ANSI lesson).
    "q323_cross_correlation" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val lags = hourly.select(col("h"), col("x"),
        explode(sequence(lit(-3L), lit(3L))).as("lag"))
      lags.alias("a")
        .join(hourly.alias("b"), col("b.h") === col("a.h") + col("a.lag"))
        .select(col("a.lag").as("lag"), col("a.x").as("x"), col("b.y").as("y"))
        .groupBy("lag").agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select(col("lag"), col("n"),
          when(col("n") * col("sx2") - col("sx") * col("sx") > 0 &&
               col("n") * col("sy2") - col("sy") * col("sy") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast("double")
                * (col("n") * col("sy2") - col("sy") * col("sy")).cast("double")))
            .as("ccf"))
    }),
    // Hurst exponent via rescaled-range (R/S) analysis — the
    // long-range-dependence screen for the event stream (H≈0.5 is
    // memoryless; H→1 is trending/bursty, q284's burstiness seen at
    // range scale). The series is the bounded hourly-count relation;
    // for block sizes 8/16/32/64 every full block computes R from the
    // SCALED cumulative deviation bn·Σ≤j(c) − j·Σ(c) — exact integers,
    // no float mean subtraction — and S from exact moments, so the only
    // floats are the final per-block division, the per-size mean
    // (rounded 6dp BEFORE the log so both engines regress identical
    // inputs), and the 4-point log-log slope. Windows are keyed by
    // (size, block); the one unpartitioned window ranks the bounded
    // hour relation (q166's shape).
    "q324_hurst_exponent" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      val idx = hourly.withColumn("i",
        row_number().over(Window.orderBy("h")).cast("long") - 1)
      val sized = idx.select(col("i"), col("c"),
          explode(expr("array(bigint(8), bigint(16), bigint(32), bigint(64))"))
            .as("bn"))
        .withColumn("blk", expr("i DIV bn"))
        .withColumn("j", expr("i % bn") + 1)
      val wb = Window.partitionBy("bn", "blk").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy("bn", "blk")
      val dev = sized
        .withColumn("pc", sum(col("c")).over(wb))
        .withColumn("s", sum(col("c")).over(wall))
        .withColumn("q", sum(col("c") * col("c")).over(wall))
        .withColumn("k", count(lit(1)).over(wall))
        .filter(col("k") === col("bn"))
        .withColumn("z", col("bn") * col("pc") - col("j") * col("s"))
      val blocks = dev.groupBy("bn", "blk").agg(
        (max(col("z")) - min(col("z"))).as("rs_scaled"),
        max(col("s")).as("s"), max(col("q")).as("q"))
      val rs = blocks
        .withColumn("varS",
          (col("q").cast("double") - col("s").cast("double") * col("s")
            / col("bn")) / (col("bn") - 1))
        .filter(col("varS") > 0)
        .withColumn("rs",
          col("rs_scaled").cast("double") / col("bn") / sqrt(col("varS")))
      val pts = rs.groupBy("bn").agg(count(lit(1)).as("nblk"),
        round(avg(col("rs")), 6).as("mean_rs"))
      val pt = pts.select(col("bn"), col("nblk"), col("mean_rs"),
        log(col("bn").cast("double")).as("lx"), log(col("mean_rs")).as("ly"))
      val o = pt.agg(count(lit(1)).as("k"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sx2"))
      pt.crossJoin(broadcast(o))
        .select(col("bn"), col("nblk"), col("mean_rs"),
          round((col("k") * col("sxy") - col("sx") * col("sy"))
            / (col("k") * col("sx2") - col("sx") * col("sx")), 4).as("hurst"))
    }),
    // Effect-size panel — the "is it LARGE, not just significant?"
    // companions to the q145/q21/q191 test family, on their own
    // comparisons: Cohen's d (click vs view values, pooled-variance
    // standardized difference), Cramér's V (event_type × epoch-day%7
    // contingency — %7, not dayofweek(), whose week-start convention
    // differs between engines), and rank-biserial r = 1 − 2U/(n₁n₂)
    // from the q191 doubled-midrank device (exact integers until one
    // division). Cents-exact moments in decimal(38,0); three 1-row
    // aggregates meet on broadcast cross joins.
    "q325_effect_sizes" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val base = ev(s, d).filter(col("event_type").isin("click", "view"))
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast("long").as("c"))
      val mom = base.agg(
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === "click", col("c")).otherwise(0L)).as("s1"),
        sum(when(col("g") === "click", (col("c") * col("c")).cast(dec))
          .otherwise(lit(0).cast(dec))).as("q1"),
        sum(when(col("g") === "view", 1L).otherwise(0L)).as("n2"),
        sum(when(col("g") === "view", col("c")).otherwise(0L)).as("s2"),
        sum(when(col("g") === "view", (col("c") * col("c")).cast(dec))
          .otherwise(lit(0).cast(dec))).as("q2"))
      val dCol = mom.select(col("n1"), col("n2"),
        ((col("s1").cast("double") / col("n1")
            - col("s2").cast("double") / col("n2"))
          / sqrt(((col("q1").cast("double")
              - col("s1").cast("double") * col("s1") / col("n1"))
            + (col("q2").cast("double")
              - col("s2").cast("double") * col("s2") / col("n2")))
            / (col("n1") + col("n2") - 2))).as("__d"))
      val ct = ev(s, d).select(col("event_type").as("et"),
          (datediff(to_date(col("ts")), lit("1970-01-01")).cast("long") % 7)
            .as("dow"))
        .groupBy("et", "dow").agg(count(lit(1)).as("o"))
      val rm = ct.groupBy("et").agg(sum(col("o")).as("rm"))
      val cm = ct.groupBy("dow").agg(sum(col("o")).as("cm"))
      val nn = ct.agg(sum(col("o")).as("nn"),
        countDistinct(col("et")).as("r"), countDistinct(col("dow")).as("cc"))
      // the FULL margin grid, not just observed cells — an empty et×dow
      // cell still contributes (0−e)²/e (the q311 missing-bucket lesson)
      val chi = rm.crossJoin(cm).join(ct, Seq("et", "dow"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(nn))
        .select(
          (col("o").cast("double")
            - col("rm").cast("double") * col("cm") / col("nn")).as("__dv"),
          col("rm"), col("cm"), col("nn"), col("r"), col("cc"))
        .select((col("__dv") * col("__dv")
            / (col("rm").cast("double") * col("cm") / col("nn"))).as("term"),
          col("nn"), col("r"), col("cc"))
        .agg(sum(col("term")).as("chi2"), max(col("nn")).as("nn"),
          max(col("r")).as("r"), max(col("cc")).as("cc"))
        .select(sqrt(col("chi2") / (col("nn").cast("double")
          * least(col("r") - 1, col("cc") - 1))).as("__v"))
      val byV = base.groupBy("c").agg(count(lit(1)).as("t"),
        sum(when(col("g") === "click", 1L).otherwise(0L)).as("ta"))
      val pp = graft.operators.GlobalRank.exclusivePrefixSum(byV, "c", "t")
      val rb = pp.agg(
        sum(col("ta").cast(dec)
          * (lit(2) * col("cum_before") + col("t") + 1)).as("r2a"),
        sum(col("ta")).as("na"), sum(col("t") - col("ta")).as("nb"))
        .select((lit(1.0)
          - (col("r2a") - col("na").cast(dec) * (col("na") + 1)).cast("double")
            / (col("na").cast("double") * col("nb"))).as("__rb"))
      dCol.crossJoin(broadcast(chi)).crossJoin(broadcast(rb))
        .select(col("n1").as("n_click"), col("n2").as("n_view"),
          round(col("__d"), 4).as("cohens_d"),
          round(col("__v"), 4).as("cramers_v"),
          round(col("__rb"), 4).as("rank_biserial"))
    }),
    // Hill tail-index MLE over the co-purchase degree distribution — the
    // "is this graph scale-free?" screen next to q282 (assortativity) and
    // q174 (Zipf): α̂ = 1 + n_tail / Σ ln(dᵢ/x_min) over the tail
    // deg ≥ x_min = 5. Degrees reuse the q282 edge device; the log-sum
    // collapses to the BOUNDED distinct-degree relation (cnt·ln(d) — one
    // term per degree VALUE, not per node), with the q174 float ladder
    // (ln points 6 dp → sum 6 dp → α 4 dp) so both engines regress
    // identical bits. Plan: the copurchase self-join + two hash aggs;
    // nothing grows past |distinct degrees| after the degree agg.
    "q326_hill_tail" -> ((s, d) => {
      val p = copurchasePairs(s, d)
      // both endpoints in ONE pass over the support-2 self-join (the
      // unionAll form re-ran it per branch — same fix as EdgeLayout's
      // explode-symmetrize); deg feeds a single consumer, no cut needed
      val deg = p.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val byDeg = deg.filter(col("deg") >= 5)
        .groupBy("deg").agg(count(lit(1)).as("cnt"))
        .select(col("cnt"),
          round(log(col("deg").cast("double") / lit(5.0)), 6).as("lt"))
      byDeg.agg(sum(col("cnt")).as("n_tail"),
          round(sum(col("cnt") * col("lt")), 6).as("__ls"))
        .select(lit(5L).as("x_min"), col("n_tail"),
          when(col("__ls") > 0,
            round(lit(1.0) + col("n_tail").cast("double") / col("__ls"), 4))
            .as("alpha"))
    }),
    // MATTR (moving-average type-token ratio, window 10) per document —
    // the lexical-diversity score that, unlike raw TTR, doesn't shrink
    // with document length (Covington & McFall 2010). The naive form
    // re-scans every 10-token window; this computes Σ-distinct-per-window
    // in ONE pass via the previous-occurrence trick: token i is distinct
    // in window j iff its previous occurrence p(i) < j, so it contributes
    // to exactly the windows j ∈ [max(p+1, i−9, 0), min(i, nw−1)] — an
    // interval-length sum, exact integers until the final division. All
    // windows are per-doc (bounded by doc length); no corpus-wide state.
    "q327_mattr" -> ((s, d) => {
      val W = 10
      val toks = doc(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
        .withColumn("i", row_number().over(
          Window.partitionBy("doc_id").orderBy("pos")).cast("long") - 1)
      val prev = toks.withColumn("p", coalesce(
        lag(col("i"), 1).over(
          Window.partitionBy("doc_id", "w").orderBy("i")), lit(-1L)))
      val c = prev
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
        .filter(col("n") >= W)
        .withColumn("nw", col("n") - (W - 1))
        .withColumn("lo", greatest(col("p") + 1, col("i") - (W - 1), lit(0L)))
        .withColumn("hi", least(col("i"), col("nw") - 1))
      c.groupBy("doc_id").agg(max(col("n")).as("ntok"),
        round(sum(greatest(col("hi") - col("lo") + 1, lit(0L))).cast("double")
          / (max(col("nw")) * W).cast("double"), 6).as("mattr"))
    }),
    // Markov entropy rate of the per-user event-type chain — the
    // predictability score over q163's transition matrix: H =
    // Σᵢⱼ (cᵢⱼ/N)·ln(cᵢ/cᵢⱼ) (positive formulation — ln(cᵢ/cᵢⱼ) ≥ 0, so a
    // deterministic one-destination state contributes +0.0, never −0.0),
    // with the normalized rate H/ln(k) against the k-state uniform bound.
    // Counts are exact integers; terms follow the q174 ladder (6 dp
    // points over the ≤k² transition relation, 6 dp sums, 4 dp ratio).
    // One per-user window + one k²-row hash agg.
    "q328_entropy_rate" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val t = ev(s, d)
        .select(col("user_id"), col("event_type").as("a"),
          lead(col("event_type"), 1).over(w).as("b"))
        .filter(col("b").isNotNull)
        .groupBy("a", "b").agg(count(lit(1)).as("cij"))
      val terms = t
        .withColumn("ci", sum(col("cij")).over(Window.partitionBy("a")))
        .select(col("a"), col("cij"), round(col("cij").cast("double")
          * log(col("ci").cast("double") / col("cij")), 6).as("term"))
      val agg = terms.agg(sum(col("cij")).as("n_transitions"),
        countDistinct(col("a")).as("n_states"),
        round(sum(col("term")), 6).as("__s"))
      val e = agg.select(col("n_transitions"), col("n_states"),
        round(col("__s") / col("n_transitions").cast("double"), 6)
          .as("entropy_rate"),
        round(log(col("n_states").cast("double")), 6).as("max_entropy"))
      e.select(col("n_transitions"), col("n_states"), col("entropy_rate"),
        col("max_entropy"),
        when(col("max_entropy") > 0,
          round(col("entropy_rate") / col("max_entropy"), 4)).as("normalized"))
    }),
    // Sequential co-purchase — "bought A, next order contained B": the
    // directed next-basket association behind recommendation candidates,
    // complementing the same-basket q147 family. Consecutive orders pair
    // up via one per-customer lead window; each (order, next-order) pair
    // joins its two DISTINCT basket part sets (fanout bounded by
    // basket², never corpus-wide); top-20 by a total order rides
    // TakeOrderedAndProject (distributed top-k — no global sort), and the
    // rank window runs over the 20-row result only.
    "q329_sequential_copurchase" -> ((s, d) => {
      // pinned pre-shuffle (r17 rule): the per-customer window's exchange
      // is AQE-coalescible (collapsed to 2 partitions at sf0.1) and the
      // basket joins + pair explode ride its layout — pin it so the
      // CPU-dense stage runs at session width
      val nxt = ord(s, d).repartition(nPart(s), col("o_custkey"))
        .select(col("o_orderkey").as("k1"),
          lead(col("o_orderkey"), 1).over(Window.partitionBy("o_custkey")
            .orderBy(col("o_orderdate").asc, col("o_orderkey").asc))
            .as("k2"))
        .filter(col("k2").isNotNull)
      // r18 rework (VERDICT r17 #4): join the (order, next-order) pairs to
      // per-order DISTINCT basket ARRAYS (one groupBy pass over lineitem,
      // truncated — it feeds both join sides), then explode the a×b cross
      // product AFTER both joins: the exploded rows never cross an
      // exchange (the partial agg collapses them in the same stage), where
      // the r17 form shuffled every (pair, part_a) row into the second
      // join. Fan-out is still basket² per order pair, bounded by
      // construction; collect_set's buffer is bounded by basket size (the
      // Bench fallbackThreshold contract). Distinct sets are order-free,
      // so the (part_a, part_b) multiset — and the count — is unchanged.
      val baskets = graft.io.Checkpoints.truncate(
        li(s, d).select(col("l_orderkey"), col("l_partkey"))
          .groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("items")),
        eager = false)
      val pairs = nxt
        .join(baskets.select(col("l_orderkey").as("k1"), col("items").as("__ia")),
          Seq("k1"))
        .join(baskets.select(col("l_orderkey").as("k2"), col("items").as("__ib")),
          Seq("k2"))
        // two chained explodes, NOT a nested transform: GenerateExec stays
        // inside whole-stage codegen, where the flatten(transform(...))
        // HOF spelling is interpreted per row (measured 24 s task CPU vs
        // ~6 s for the explode form on the same stage)
        .select(explode(col("__ia")).as("part_a"), col("__ib"))
        .select(col("part_a"), explode(col("__ib")).as("part_b"))
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("part_a").asc,
        col("part_b").asc).limit(20)
      top.withColumn("rnk", row_number().over(Window.orderBy(col("cnt").desc,
          col("part_a").asc, col("part_b").asc)).cast("long"))
        .select("rnk", "part_a", "part_b", "cnt")
    }),
    // Kendall τ-b between daily click and purchase volumes — the
    // rank-correlation twin of q323's Pearson lead–lag, robust to any
    // monotone transform. The pairwise compare runs over the DAILY
    // relation, whose size is bounded by calendar span (30 rows here,
    // ~3.6k for a decade), never by corpus size — the O(span²) loop is
    // a constant at 100 TB. Concordant/discordant/tie counts are exact
    // integers; τ-b's one sqrt is the only float.
    "q330_kendall_tau" -> ((s, d) => {
      val daily = ev(s, d).groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val p = daily.alias("a").join(daily.alias("b"), col("a.day") < col("b.day"))
        .select((col("b.x") - col("a.x")).as("dx"),
          (col("b.y") - col("a.y")).as("dy"))
      p.agg(count(lit(1)).as("n0"),
          sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("conc"),
          sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("disc"),
          sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
          sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"))
        .select(col("n0").as("n_pairs"), col("conc").as("concordant"),
          col("disc").as("discordant"),
          when(col("n0") - col("tx") > 0 && col("n0") - col("ty") > 0,
            round((col("conc") - col("disc")).cast("double") /
              sqrt((col("n0") - col("tx")).cast("double")
                * (col("n0") - col("ty")).cast("double")), 6)).as("tau_b"))
    }),
    // Autocorrelation function (lags 1–24) + Ljung-Box Q over the hourly
    // event-count series — the white-noise screen before any forecasting.
    // Exact-integer device: r_k's numerator/denominator are scaled by n²
    // (Σ(n·cₜ−S)(n·cₜ₊ₖ−S) / Σ(n·cₜ−S)²) in decimal(38,0), so the mean
    // subtraction never touches floats; each r_k is one deterministic
    // division rounded 6 dp, and Q accumulates r²/(n−k) over the ORDERED
    // 24-row lag relation (both engines add identical doubles in lag
    // order). The lag join is i = i+k over the rank index — 24·n rows,
    // one shuffle.
    "q331_acf_ljung_box" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val hourly = ev(s, d)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      val idx = hourly.withColumn("i",
        row_number().over(Window.orderBy("h")).cast("long"))
      val tot = idx.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      val z = idx.crossJoin(broadcast(tot))
        .select(col("i"), col("n"),
          (col("n") * col("c") - col("s")).cast(dec).as("z"))
      val den = z.agg(sum(col("z") * col("z")).as("den"),
        max(col("n")).as("n"))
      val num = z.select(col("i"), col("z"),
          explode(sequence(lit(1L), lit(24L))).as("k")).alias("a")
        .join(z.select(col("i").as("bi"), col("z").as("bz")).alias("b"),
          col("b.bi") === col("a.i") + col("a.k"))
        .groupBy(col("a.k").as("lag")).agg(sum(col("a.z") * col("b.bz")).as("num"))
      val r = num.crossJoin(broadcast(den))
        .select(col("lag"), col("n"),
          when(col("den") > 0, round(
            col("num").cast("double") / col("den").cast("double"), 6))
            .as("acf"))
      r.withColumn("lb_q", round(col("n").cast("double") * (col("n") + 2)
          * sum(col("acf") * col("acf")
              / (col("n") - col("lag")).cast("double"))
            .over(Window.orderBy("lag")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        .select("lag", "acf", "lb_q")
    }),
    // Wald–Wolfowitz runs test on the hourly count series vs its median —
    // "is the series randomly ordered, or does it cluster above/below?"
    // Ties AT the median drop (the standard treatment); runs count from
    // one lag over the bounded hour relation (q166's single-partition
    // shape, span-bounded); μ and σ² of the run count are rational in
    // exact integers, so z is one deterministic float expression.
    "q332_runs_test" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      val med = hourly.agg(expr("percentile(c, 0.5)").as("m"))
      val signed = hourly.crossJoin(broadcast(med))
        .filter(col("c") =!= col("m"))
        .select(col("h"), when(col("c") > col("m"), 1L).otherwise(0L).as("sg"))
      val agg = signed.select(col("sg"),
          lag(col("sg"), 1).over(Window.orderBy("h")).as("pr"))
        .agg(sum(when(col("pr").isNull || col("pr") =!= col("sg"), 1L)
            .otherwise(0L)).as("runs"),
          sum(col("sg")).as("n1"), sum(lit(1L) - col("sg")).as("n2"))
      val mu = lit(2.0) * col("n1") * col("n2") /
        (col("n1") + col("n2")).cast("double") + 1.0
      val sg2 = (lit(2.0) * col("n1") * col("n2")
          * (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2"))) /
        ((col("n1") + col("n2")).cast("double")
          * (col("n1") + col("n2")) * (col("n1") + col("n2") - 1))
      agg.select(col("n1").as("n_above"), col("n2").as("n_below"),
        col("runs"),
        when(col("n1") > 0 && col("n2") > 0 && col("n1") + col("n2") > 1,
          round((col("runs").cast("double") - mu) / sqrt(sg2), 4)).as("z"))
    }),
    // Mann–Kendall trend test over daily event counts — the
    // distribution-free companion to q316's Theil–Sen slope (MK says IF
    // there's a monotone trend; Theil–Sen says how steep). S and the tie
    // correction are exact integers over the span-bounded daily relation
    // (the q330 scale argument); Var(S) is an integer/18; z applies the
    // ±1 continuity correction.
    "q333_mann_kendall" -> ((s, d) => {
      val daily = ev(s, d).groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val sStat = daily.alias("a")
        .join(daily.alias("b"), col("a.day") < col("b.day"))
        .agg(coalesce(sum(when(col("b.c") > col("a.c"), 1L)
          .when(col("b.c") < col("a.c"), -1L).otherwise(0L)), lit(0L))
          .as("s_stat"))
      val ties = daily.groupBy("c").agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("tt"))
      val nn = daily.agg(count(lit(1)).as("n"))
      val varS = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
        - col("tt")).cast("double") / 18.0
      sStat.crossJoin(broadcast(ties)).crossJoin(broadcast(nn))
        .select(col("n").as("n_days"), col("s_stat"),
          round(varS, 4).as("var_s"),
          when(varS > 0, round(
            when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
              .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
              .otherwise(lit(0.0)) / sqrt(varS), 4)).as("z"))
    }),
    // ROC AUC of `value` as a purchase discriminator — the rank-sum
    // (Mann–Whitney) identity AUC = (2R₊ − n₊(n₊+1)) / (2n₊n₋) with
    // midrank tie handling, over cents-exact scores. Reuses q325's
    // doubled-midrank device on the distributed prefix sum —
    // NO global sort, no corpus-wide window; everything is exact
    // integers (decimal accumulators — rank sums square past long at
    // corpus scale) until one final division.
    "q334_roc_auc" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val base = ev(s, d).select(
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("lab"),
        round(col("value") * 100).cast("long").as("c"))
      val byc = base.groupBy("c").agg(count(lit(1)).as("t"),
        sum(col("lab")).as("ta"))
      val pp = graft.operators.GlobalRank.exclusivePrefixSum(byc, "c", "t")
      pp.agg(sum(col("ta").cast(dec)
            * (lit(2) * col("cum_before") + col("t") + 1)).as("r2"),
          sum(col("ta")).as("np"), sum(col("t") - col("ta")).as("nn"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          when(col("np") > 0 && col("nn") > 0, round(
            (col("r2") - col("np").cast(dec) * (col("np") + 1)).cast("double")
              / (lit(2.0) * col("np").cast("double") * col("nn")), 6))
            .as("auc"))
    }),
    // Add-one-smoothed bigram LM perplexity per document — the language-
    // model quality screen (the CCNet/Wikipedia-LM device, reduced to a
    // corpus-trained bigram model): p(w₂|w₁) = (c₁₂+1)/(c₁+V), scored
    // back over each doc's own bigrams. Training and scoring are the
    // same postings-shaped joins (bigram → count, context → count) that
    // scale as word-count jobs; V is a 1-row broadcast. Per-doc log sums
    // follow q125's proven form (sum raw ln, round 4); ppl exponentiates
    // the ROUNDED average so both engines exp identical bits.
    "q335_bigram_perplexity" -> ((s, d) => {
      val toks = doc(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
      val big = toks.select(col("doc_id"), col("w").as("w1"),
          lead(col("w"), 1).over(
            Window.partitionBy("doc_id").orderBy("pos")).as("w2"))
        .filter(col("w2").isNotNull)
      val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val cu = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val v = toks.agg(countDistinct(col("w")).as("vv"))
      val scored = big.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
        .crossJoin(broadcast(v))
        .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"),
          round(sum(log((col("c12") + 1).cast("double")
            / (col("c1") + col("vv")))) / count(lit(1)), 4).as("avg_lp"))
      scored.select(col("doc_id"), col("n_bigrams"), col("avg_lp"),
        round(exp(-col("avg_lp")), 4).as("ppl"))
    }),
    // Gumbel extreme-value fit over daily block maxima of the hourly
    // event rate — the capacity-planning question ("what hourly burst do
    // we see once per 100 days?") answered by the method of moments:
    // β = s·√6/π, μ = x̄ − γβ, x_T = μ − β·ln(−ln(1−1/T)). Blocks are
    // epoch-day integers (hour DIV 24 — no calendar parity risk); the
    // moments over the span-bounded maxima relation are exact integers,
    // so the only floats are staged, mirrored expressions (6 dp each);
    // the ln(−ln(0.99)) constant is embedded as one literal on both
    // engines (libm ln can differ a ulp between JVM and DuckDB).
    "q336_gumbel_maxima" -> ((s, d) => {
      val hourly = ev(s, d)
        .groupBy(expr("unix_micros(ts) DIV 3600000000").as("h"))
        .agg(count(lit(1)).as("c"))
      val maxima = hourly.groupBy(expr("h DIV 24").as("day"))
        .agg(max(col("c")).as("m"))
      val mom = maxima.agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("q"))
      val varS = (col("n").cast("decimal(38,0)") * col("q")
        - col("sm").cast("decimal(38,0)") * col("sm")).cast("double") /
        (col("n").cast("double") * (col("n") - 1))
      val withB = mom.select(col("n"), col("sm"), varS.as("__var"))
        .filter(col("n") > 1 && col("__var") > 0)
        .select(col("n"),
          (col("sm").cast("double") / col("n")).as("__mean"),
          round(sqrt(col("__var")) * sqrt(lit(6.0)) / lit(math.Pi), 6)
            .as("gumbel_beta"))
      val withMu = withB.select(col("n").as("n_blocks"), col("gumbel_beta"),
        round(col("__mean") - lit(0.5772156649015329) * col("gumbel_beta"), 6)
          .as("gumbel_mu"))
      withMu.select(col("n_blocks"), col("gumbel_mu"), col("gumbel_beta"),
        round(col("gumbel_mu") + lit(4.600149226776579) * col("gumbel_beta"), 4)
          .as("rl_100"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q301_tpch_q5" ->
      """SELECT n_name,
        | round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |   AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "q302_tpch_q6" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
        |   AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_discount >= 0.05 AND l_discount <= 0.07
        | AND l_quantity < 24""".stripMargin,
    "q303_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |   AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
        |FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        | AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        | AND c_nationkey = n2.n_nationkey
        | AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        | AND l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,
    "q304_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | round(CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
        |     THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |       AS BIGINT) ELSE 0 END) AS DOUBLE)
        |  / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |     AS BIGINT)), 6) AS mkt_share
        |FROM part, lineitem, supplier, orders, customer,
        | nation n1, nation n2, region
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        | AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        | AND s_nationkey = n1.n_nationkey
        | AND c_nationkey = n2.n_nationkey
        | AND n2.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        | AND p_type = 'ECONOMY'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "q305_tpch_q9" ->
      """SELECT n_name AS nation,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | round(CAST(sum(
        |   CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |   - CAST(round(p_retailprice * l_quantity * 2) AS BIGINT))
        |  AS DOUBLE) / 100, 2) AS sum_profit
        |FROM part, lineitem, supplier, orders, nation
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        | AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        | AND p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin,
    "q306_tpch_q10" ->
      """SELECT c_custkey, c_name,
        | round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |   AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue,
        | c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND c_nationkey = n_nationkey
        | AND l_returnflag = 'R'
        | AND o_orderdate >= TIMESTAMP '1996-01-01'
        | AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 4, 5""".stripMargin,
    "q307_tpch_q12" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        | AND l_shipdate < TIMESTAMP '1997-01-01'
        | AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin,
    "q308_tpch_q14" ->
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |   THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |     AS BIGINT) ELSE 0 END) AS DOUBLE)
        |  / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |     AS BIGINT)), 6) AS promo_revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        | AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    // textbook single OR-of-ANDs WHERE — DuckDB extracts the common
    // support itself; the Spark side does it by hand (see the query doc)
    "q309_tpch_q19" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
        |   * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue,
        | CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |   AND l_quantity BETWEEN 1 AND 11)
        | OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |   AND l_quantity BETWEEN 10 AND 20)
        | OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
        |   AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q310_mrr" ->
      """WITH q(term) AS (VALUES ('vector'), ('join'), ('scan')),
        |p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |       FROM p GROUP BY 1),
        |sc AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |        CAST(count(*) AS DOUBLE)
        |          / (SELECT count(*) FROM documents) AS avgdl FROM p),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM p JOIN q ON token = term GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |       FROM tf GROUP BY 1),
        |s AS (
        | SELECT token, tf.doc_id, tf,
        |  round(ln(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
        |   * (CAST(tf AS DOUBLE) * 2.2
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
        | FROM tf JOIN df USING (token) JOIN dl USING (doc_id), sc),
        |r AS (
        | SELECT token, tf, row_number() OVER (PARTITION BY token
        |   ORDER BY score DESC, doc_id ASC) AS rnk FROM s),
        |f AS (
        | SELECT token AS query,
        |  coalesce(min(CASE WHEN tf >= 2 THEN rnk END), 0) AS fr
        | FROM r WHERE rnk <= 10 GROUP BY 1)
        |SELECT query, CAST(fr AS BIGINT) AS first_rel_rank,
        | CASE WHEN fr > 0 THEN round(1.0 / fr, 6) ELSE 0.0 END AS rr
        |FROM f""".stripMargin,
    "q311_t_closeness" ->
      """WITH b AS (
        | SELECT event_type,
        |  CAST(date_diff('day', TIMESTAMP '1970-01-01', ts) % 7 AS BIGINT)
        |    AS dow,
        |  least(3, CAST(floor(value / 125) AS BIGINT)) AS sb
        | FROM events),
        |cgs AS (SELECT event_type, dow, sb, CAST(count(*) AS BIGINT) AS c
        |        FROM b GROUP BY 1, 2, 3),
        |ng AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
        |       FROM b GROUP BY 1, 2),
        |cs AS (SELECT sb, CAST(count(*) AS BIGINT) AS cst
        |       FROM b GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM b),
        |grid AS (SELECT * FROM ng, cs, tot)
        |SELECT event_type, dow, n,
        | round(CAST(sum(abs(coalesce(c, 0) * nt - cst * n)) AS DOUBLE)
        |   / (2.0 * n * nt), 6) AS tvd
        |FROM grid LEFT JOIN cgs USING (event_type, dow, sb)
        |GROUP BY 1, 2, 3, nt""".stripMargin,
    // replays the triangle census with a direct a<b<c enumeration (the
    // orientation scheme finds the same set); LCC algebra mirrored
    "q312_local_clustering" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        | SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        | GROUP BY node),
        |tri AS (
        | SELECT e1.u AS a, e1.v AS b, e2.v AS c
        | FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corner AS (
        | SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
        |  SELECT a AS node FROM tri UNION ALL
        |  SELECT b AS node FROM tri UNION ALL
        |  SELECT c AS node FROM tri)
        | GROUP BY node)
        |SELECT deg.node, deg.deg, coalesce(corner.tri, 0) AS tri,
        | CASE WHEN deg.deg >= 2 THEN
        |  round(2.0 * coalesce(corner.tri, 0)
        |    / (deg.deg * (deg.deg - 1)), 6)
        |  ELSE 0.0 END AS lcc
        |FROM deg LEFT JOIN corner USING (node)""".stripMargin,
    "q313_cohens_kappa" ->
      """WITH r AS (
        | SELECT CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS a,
        |  CASE WHEN length(text) > 0 AND
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |      AS DOUBLE) / length(text) > 0.85 THEN 1 ELSE 0 END AS b
        | FROM documents),
        |m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
        |  CAST(sum(a * b) AS BIGINT) AS nab FROM r),
        |pp AS (
        | SELECT n,
        |  round(CAST(nab + (n - na - nb + nab) AS DOUBLE) / n, 6) AS p_o,
        |  round((CAST(na AS DOUBLE) * nb
        |    + CAST(n - na AS DOUBLE) * (n - nb))
        |   / (CAST(n AS DOUBLE) * n), 6) AS p_e
        | FROM m)
        |SELECT n, p_o, p_e,
        | CASE WHEN p_e < 1.0
        |  THEN round((p_o - p_e) / (1.0 - p_e), 6) END AS kappa
        |FROM pp""".stripMargin,
    "q314_trailing_spend" ->
      """WITH o AS (
        | SELECT o_orderkey, o_custkey,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
        |    AS BIGINT) AS d,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS c
        | FROM orders)
        |SELECT o_orderkey, o_custkey, d,
        | round(CAST(sum(c) OVER w AS BIGINT) / 100.0, 2) AS trail_spend,
        | CAST(count(*) OVER w AS BIGINT) AS trail_n
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d
        | RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)""".stripMargin,
    // the oracle computes the expected post-backfill table state straight
    // from the source: day 2024-01-10 doubled, every other day untouched
    "q315_dynamic_overwrite" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        | CAST(count(*) AS BIGINT) AS cnt,
        | round(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-10'
        |   THEN value * 2 ELSE value END), 4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q316_theil_sen" ->
      """WITH b AS (
        | SELECT event_type,
        |  CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS x, value AS v,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY CAST(epoch_us(ts) // 3600000000 AS BIGINT), event_id)
        |    AS i,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM events),
        |p AS (
        | SELECT a.event_type,
        |  (b2.v - a.v) / CAST(b2.x - a.x AS DOUBLE) AS slope
        | FROM b a JOIN b b2
        |  ON a.event_type = b2.event_type AND b2.i = a.i + a.n // 2
        | WHERE a.i <= a.n // 2 AND b2.x <> a.x)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        | round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
        |FROM p GROUP BY 1""".stripMargin,
    "q317_seasonal_decompose" ->
      """WITH hourly AS (
        | SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        | FROM events GROUP BY 1, 2),
        |t AS (
        | SELECT event_type, h, y,
        |  CAST(sum(y) OVER w AS BIGINT) AS s25, count(*) OVER w AS k
        | FROM hourly
        | WINDOW w AS (PARTITION BY event_type ORDER BY h
        |  ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING))
        |SELECT event_type, CAST(h % 24 AS BIGINT) AS hod,
        | CAST(count(*) AS BIGINT) AS n_obs,
        | round(CAST(sum(y * 25 - s25) AS DOUBLE)
        |   / (25.0 * count(*) * 100), 4) AS seasonal
        |FROM t WHERE k = 25 GROUP BY 1, 2""".stripMargin,
    "q318_flesch_readability" ->
      """WITH c AS (
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[^ ]+', 0)) AS BIGINT)
        |    AS n_words,
        |  CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+', 0)))
        |    AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0))
        |    AS BIGINT) AS n_syllables
        | FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | CASE WHEN n_words > 0 THEN
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) END AS flesch
        |FROM c""".stripMargin,
    // the same larger-side prefix algebra; DuckDB's integer sums widen
    // to HUGEINT, mirroring the Spark side's decimal(38,0) accumulators
    "q319_energy_distance" ->
      """WITH sc AS (
        | SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1,
        |  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS c2
        | FROM events WHERE event_type IN ('click', 'view')),
        |g AS (SELECT v, CAST(sum(c1) AS BIGINT) AS n1,
        |  CAST(sum(c2) AS BIGINT) AS n2 FROM sc GROUP BY 1),
        |p AS (
        | SELECT v, n1, n2,
        |  coalesce(CAST(sum(n1) OVER w AS BIGINT), 0) AS c1lt,
        |  coalesce(CAST(sum(n2) OVER w AS BIGINT), 0) AS c2lt,
        |  coalesce(CAST(sum(v * n1) OVER w AS BIGINT), 0) AS s1lt,
        |  coalesce(CAST(sum(v * n2) OVER w AS BIGINT), 0) AS s2lt
        | FROM g WINDOW w AS (ORDER BY v
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |t AS (
        | SELECT sum(n1 * (v * c2lt - s2lt) + n2 * (v * c1lt - s1lt)) AS sxy,
        |  sum(n1 * (v * c1lt - s1lt)) AS sxx2,
        |  sum(n2 * (v * c2lt - s2lt)) AS syy2,
        |  CAST(sum(n1) AS BIGINT) AS n, CAST(sum(n2) AS BIGINT) AS m
        | FROM p)
        |SELECT n AS n_click, m AS n_view,
        | round(2.0 * CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m)
        |  - 2.0 * CAST(sxx2 AS DOUBLE) / (CAST(n AS DOUBLE) * n)
        |  - 2.0 * CAST(syy2 AS DOUBLE) / (CAST(m AS DOUBLE) * m), 6)
        |  AS energy_dist_cents
        |FROM t""".stripMargin,
    "q320_logrank_test" ->
      """WITH spans AS (
        | SELECT user_id, date_diff('day', CAST(min(ts) AS DATE),
        |   CAST(max(ts) AS DATE)) AS t
        | FROM events GROUP BY 1),
        |g AS (SELECT CAST(t AS BIGINT) AS t,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d1,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d2
        | FROM spans GROUP BY 1),
        |tot AS (SELECT CAST(sum(d1) AS BIGINT) AS na,
        |               CAST(sum(d2) AS BIGINT) AS nb FROM g),
        |base AS (
        | SELECT t, d1, d2, na, nb,
        |  na - coalesce(CAST(sum(d1) OVER w AS BIGINT), 0) AS n1,
        |  nb - coalesce(CAST(sum(d2) OVER w AS BIGINT), 0) AS n2
        | FROM g, tot
        | WINDOW w AS (ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |f AS (
        | SELECT na, nb, d1, d1 + d2 AS dd, n1, n2, n1 + n2 AS n
        | FROM base WHERE n1 + n2 > 1),
        |r AS (
        | SELECT max(na) AS n_a, max(nb) AS n_b,
        |  CAST(sum(d1) AS BIGINT) AS o1,
        |  sum(CAST(dd AS DOUBLE) * n1 / n) AS e1,
        |  sum(CAST(dd AS DOUBLE) * n1 / n * n2 / n * (n - dd) / (n - 1))
        |    AS v1
        | FROM f)
        |SELECT n_a, n_b, o1, round(e1, 4) AS e1,
        | round(CASE WHEN v1 > 0
        |   THEN (o1 - e1) * (o1 - e1) / v1 END, 4) AS chi2
        |FROM r""".stripMargin,
    "q321_diff_in_diff" ->
      """WITH g AS (
        | SELECT user_id % 2 AS tr,
        |  CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 ELSE 0 END
        |    AS po,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |a AS (SELECT tr, po, CAST(count(*) AS BIGINT) AS n,
        |  sum(c) AS s, sum(c * c) AS q FROM g GROUP BY 1, 2),
        |p AS (SELECT
        |  max(CASE WHEN tr = 0 AND po = 0 THEN n END) AS n00,
        |  max(CASE WHEN tr = 0 AND po = 1 THEN n END) AS n01,
        |  max(CASE WHEN tr = 1 AND po = 0 THEN n END) AS n10,
        |  max(CASE WHEN tr = 1 AND po = 1 THEN n END) AS n11,
        |  max(CASE WHEN tr = 0 AND po = 0 THEN s END) AS s00,
        |  max(CASE WHEN tr = 0 AND po = 1 THEN s END) AS s01,
        |  max(CASE WHEN tr = 1 AND po = 0 THEN s END) AS s10,
        |  max(CASE WHEN tr = 1 AND po = 1 THEN s END) AS s11,
        |  max(CASE WHEN tr = 0 AND po = 0 THEN q END) AS q00,
        |  max(CASE WHEN tr = 0 AND po = 1 THEN q END) AS q01,
        |  max(CASE WHEN tr = 1 AND po = 0 THEN q END) AS q10,
        |  max(CASE WHEN tr = 1 AND po = 1 THEN q END) AS q11
        | FROM a),
        |m AS (
        | SELECT n00, n01, n10, n11,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |   (CAST(s11 AS DOUBLE) / n11 - CAST(s10 AS DOUBLE) / n10)
        |    - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00)
        |  END AS did_c,
        |  CASE WHEN n00 > 1 THEN (CAST(q00 AS DOUBLE)
        |    - CAST(s00 AS DOUBLE) * s00 / n00) / (n00 - 1) END / n00
        |  + CASE WHEN n01 > 1 THEN (CAST(q01 AS DOUBLE)
        |    - CAST(s01 AS DOUBLE) * s01 / n01) / (n01 - 1) END / n01
        |  + CASE WHEN n10 > 1 THEN (CAST(q10 AS DOUBLE)
        |    - CAST(s10 AS DOUBLE) * s10 / n10) / (n10 - 1) END / n10
        |  + CASE WHEN n11 > 1 THEN (CAST(q11 AS DOUBLE)
        |    - CAST(s11 AS DOUBLE) * s11 / n11) / (n11 - 1) END / n11
        |    AS sevar
        | FROM p)
        |SELECT n00, n01, n10, n11,
        | round(did_c / 100, 4) AS did,
        | round(CASE WHEN sevar > 0 THEN sqrt(sevar) / 100 END, 4) AS se,
        | round(CASE WHEN sevar > 0 THEN did_c / sqrt(sevar) END, 4)
        |   AS t_stat
        |FROM m""".stripMargin,
    // the banded join is semantically the plain interval join (bands
    // only bound the probe space), so the oracle states it directly
    "q322_position_attribution" ->
      """WITH p AS (
        | SELECT event_id AS pid, user_id, epoch_us(ts) AS ptsu
        | FROM events WHERE event_type = 'purchase'),
        |c AS (
        | SELECT event_id AS cid, user_id, epoch_us(ts) AS ctsu
        | FROM events WHERE event_type = 'click'),
        |j AS (
        | SELECT p.pid, c.cid, c.ctsu FROM p JOIN c
        |  ON p.user_id = c.user_id
        |  AND c.ctsu <= p.ptsu AND c.ctsu >= p.ptsu - 3600000000),
        |r AS (
        | SELECT ctsu,
        |  row_number() OVER (PARTITION BY pid ORDER BY ctsu, cid) AS i,
        |  count(*) OVER (PARTITION BY pid) AS nc
        | FROM j),
        |cr AS (
        | SELECT ctsu,
        |  CASE WHEN nc = 1 THEN CAST(1.0 AS DOUBLE)
        |   WHEN nc = 2 THEN CAST(0.5 AS DOUBLE)
        |   WHEN i = 1 OR i = nc THEN CAST(0.4 AS DOUBLE)
        |   ELSE CAST(0.2 AS DOUBLE) / (nc - 2) END AS credit
        | FROM r)
        |SELECT CAST(ctsu // 3600000000 % 24 AS BIGINT) AS hod,
        | CAST(count(*) AS BIGINT) AS n_touches,
        | round(sum(credit), 4) AS credit
        |FROM cr GROUP BY 1""".stripMargin,
    "q323_cross_correlation" ->
      """WITH hourly AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |lg AS (
        | SELECT a.lag, a.x, b.y
        | FROM (SELECT h, x, CAST(unnest([-3, -2, -1, 0, 1, 2, 3])
        |         AS BIGINT) AS lag FROM hourly) a
        | JOIN hourly b ON b.h = a.h + a.lag),
        |ag AS (
        | SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sx2,
        |  CAST(sum(y * y) AS BIGINT) AS sy2
        | FROM lg GROUP BY 1)
        |SELECT lag, n,
        | CASE WHEN n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0 THEN
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |   / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
        |     * CAST(n * sy2 - sy * sy AS DOUBLE)) END AS ccf
        |FROM ag""".stripMargin,
    "q324_hurst_exponent" ->
      """WITH hourly AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |idx AS (SELECT c,
        |  CAST(row_number() OVER (ORDER BY h) AS BIGINT) - 1 AS i
        | FROM hourly),
        |sized AS (
        | SELECT i, c, bn, i // bn AS blk, i % bn + 1 AS j
        | FROM idx, (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS bn) b),
        |dev AS (
        | SELECT bn, blk, j, i, c,
        |  CAST(sum(c) OVER (PARTITION BY bn, blk ORDER BY i ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pc,
        |  CAST(sum(c) OVER (PARTITION BY bn, blk) AS BIGINT) AS s,
        |  CAST(sum(c * c) OVER (PARTITION BY bn, blk) AS BIGINT) AS q,
        |  count(*) OVER (PARTITION BY bn, blk) AS k
        | FROM sized),
        |f AS (SELECT bn, blk, bn * pc - j * s AS z, s, q
        | FROM dev WHERE k = bn),
        |blocks AS (
        | SELECT bn, blk, max(z) - min(z) AS rs_scaled,
        |  max(s) AS s, max(q) AS q
        | FROM f GROUP BY 1, 2),
        |rs AS (
        | SELECT bn, CAST(rs_scaled AS DOUBLE) / bn
        |   / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / bn)
        |     / (bn - 1)) AS rs
        | FROM blocks
        | WHERE (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / bn)
        |   / (bn - 1) > 0),
        |pts AS (SELECT CAST(bn AS BIGINT) AS bn,
        |  CAST(count(*) AS BIGINT) AS nblk,
        |  round(avg(rs), 6) AS mean_rs FROM rs GROUP BY 1),
        |pt AS (SELECT bn, nblk, mean_rs,
        |  ln(CAST(bn AS DOUBLE)) AS lx, ln(mean_rs) AS ly FROM pts),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  sum(lx) AS sx, sum(ly) AS sy,
        |  sum(lx * ly) AS sxy, sum(lx * lx) AS sx2 FROM pt)
        |SELECT bn, nblk, mean_rs,
        | round((k * sxy - sx * sy) / (k * sx2 - sx * sx), 4) AS hurst
        |FROM pt, o""".stripMargin,
    "q325_effect_sizes" ->
      """WITH base AS (
        | SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
        | FROM events WHERE event_type IN ('click', 'view')),
        |mom AS (
        | SELECT
        |  CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  sum(CASE WHEN g = 'click' THEN c ELSE 0 END) AS s1,
        |  sum(CASE WHEN g = 'click' THEN c * c ELSE 0 END) AS q1,
        |  CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  sum(CASE WHEN g = 'view' THEN c ELSE 0 END) AS s2,
        |  sum(CASE WHEN g = 'view' THEN c * c ELSE 0 END) AS q2
        | FROM base),
        |dd AS (
        | SELECT n1, n2,
        |  (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |   / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
        |     + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
        |     / (n1 + n2 - 2)) AS d
        | FROM mom),
        |ct AS (
        | SELECT event_type AS et,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
        |  CAST(count(*) AS BIGINT) AS o
        | FROM events GROUP BY 1, 2),
        |rm AS (SELECT et, CAST(sum(o) AS BIGINT) AS rm FROM ct GROUP BY 1),
        |cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS cm FROM ct GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |  CAST(count(DISTINCT et) AS BIGINT) AS r,
        |  CAST(count(DISTINCT dow) AS BIGINT) AS cc FROM ct),
        |grid AS (
        | SELECT coalesce(ct.o, 0) AS o, rm.rm, cm.cm
        | FROM rm CROSS JOIN cm
        | LEFT JOIN ct ON ct.et = rm.et AND ct.dow = cm.dow),
        |chi AS (
        | SELECT sqrt(sum(
        |   (CAST(o AS DOUBLE) - CAST(rm AS DOUBLE) * cm / nn)
        |   * (CAST(o AS DOUBLE) - CAST(rm AS DOUBLE) * cm / nn)
        |   / (CAST(rm AS DOUBLE) * cm / nn))
        |  / (CAST(max(nn) AS DOUBLE) * least(max(r) - 1, max(cc) - 1)))
        |  AS v
        | FROM grid CROSS JOIN nn),
        |byv AS (
        | SELECT c, CAST(count(*) AS BIGINT) AS t,
        |  CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ta
        | FROM base GROUP BY 1),
        |pp AS (
        | SELECT t, ta, coalesce(CAST(sum(t) OVER (ORDER BY c
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS cum_before
        | FROM byv),
        |tots AS (SELECT CAST(sum(ta) AS BIGINT) AS na,
        |  CAST(sum(t - ta) AS BIGINT) AS nb FROM pp),
        |rb AS (
        | SELECT 1.0 - CAST(sum(ta * (2 * cum_before + t + 1))
        |    - na * (na + 1) AS DOUBLE)
        |   / (CAST(na AS DOUBLE) * nb) AS rb
        | FROM pp, tots GROUP BY na, nb)
        |SELECT n1 AS n_click, n2 AS n_view,
        | round(d, 4) AS cohens_d,
        | round(v, 4) AS cramers_v,
        | round(rb, 4) AS rank_biserial
        |FROM dd, chi, rb""".stripMargin,
    // q282's copurchase-degree CTE; the log-sum runs over distinct degree
    // values with the q174 6dp/6dp/4dp ladder.
    "q326_hill_tail" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u AS node FROM p UNION ALL SELECT v AS node FROM p),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY 1),
        |byd AS (
        | SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  round(ln(CAST(deg AS DOUBLE) / 5.0), 6) AS lt
        | FROM deg WHERE deg >= 5 GROUP BY deg),
        |ag AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tail,
        |  round(sum(cnt * lt), 6) AS ls FROM byd)
        |SELECT CAST(5 AS BIGINT) AS x_min, n_tail,
        | CASE WHEN ls > 0
        |  THEN round(1.0 + CAST(n_tail AS DOUBLE) / ls, 4) END AS alpha
        |FROM ag""".stripMargin,
    // parallel unnests zip positionally (the q118 device); the
    // previous-occurrence interval sum is exact-integer until the final
    // division.
    "q327_mattr" ->
      """WITH raw AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |  unnest(range(0, len(string_split(text, ' ')))) AS pos
        | FROM documents),
        |toks AS (
        | SELECT doc_id, w,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS BIGINT) - 1 AS i
        | FROM raw WHERE length(w) > 0),
        |prev AS (
        | SELECT doc_id, i,
        |  coalesce(lag(i) OVER (PARTITION BY doc_id, w ORDER BY i), -1) AS p,
        |  CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        | FROM toks),
        |c AS (
        | SELECT doc_id, n, n - 9 AS nw,
        |  greatest(p + 1, i - 9, 0) AS lo, least(i, n - 10) AS hi
        | FROM prev WHERE n >= 10)
        |SELECT doc_id, max(n) AS ntok,
        | round(CAST(sum(greatest(hi - lo + 1, 0)) AS DOUBLE)
        |  / (max(nw) * 10), 6) AS mattr
        |FROM c GROUP BY 1""".stripMargin,
    // q163's transition counts; positive-term formulation so ln(ci/cij)
    // can never emit -0.0.
    "q328_entropy_rate" ->
      """WITH t AS (
        | SELECT a, b, CAST(count(*) AS BIGINT) AS cij FROM (
        |  SELECT event_type AS a,
        |   lead(event_type) OVER (
        |     PARTITION BY user_id ORDER BY ts, event_id) AS b
        |  FROM events) WHERE b IS NOT NULL GROUP BY 1, 2),
        |wi AS (
        | SELECT a, cij,
        |  CAST(sum(cij) OVER (PARTITION BY a) AS BIGINT) AS ci FROM t),
        |terms AS (
        | SELECT a, cij, round(CAST(cij AS DOUBLE)
        |   * ln(CAST(ci AS DOUBLE) / cij), 6) AS term
        | FROM wi),
        |ag AS (
        | SELECT CAST(sum(cij) AS BIGINT) AS n_transitions,
        |  CAST(count(DISTINCT a) AS BIGINT) AS n_states,
        |  round(sum(term), 6) AS s FROM terms),
        |e AS (SELECT n_transitions, n_states,
        |  round(s / n_transitions, 6) AS entropy_rate,
        |  round(ln(CAST(n_states AS DOUBLE)), 6) AS max_entropy FROM ag)
        |SELECT n_transitions, n_states, entropy_rate, max_entropy,
        | CASE WHEN max_entropy > 0
        |  THEN round(entropy_rate / max_entropy, 4) END AS normalized
        |FROM e""".stripMargin,
    "q329_sequential_copurchase" ->
      """WITH nxt AS (
        | SELECT k1, k2 FROM (
        |  SELECT o_orderkey AS k1,
        |   lead(o_orderkey) OVER (
        |     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS k2
        |  FROM orders) WHERE k2 IS NOT NULL),
        |parts AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        | SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM nxt JOIN parts a ON a.l_orderkey = nxt.k1
        |  JOIN parts b ON b.l_orderkey = nxt.k2
        | GROUP BY 1, 2)
        |SELECT CAST(row_number() OVER (
        |   ORDER BY cnt DESC, part_a, part_b) AS BIGINT) AS rnk,
        | part_a, part_b, cnt
        |FROM pairs
        |ORDER BY cnt DESC, part_a, part_b LIMIT 20""".stripMargin,
    // exact-integer concordance counts; one sqrt.
    "q330_kendall_tau" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS x,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS y
        | FROM events GROUP BY 1),
        |p AS (
        | SELECT b.x - a.x AS dx, b.y - a.y AS dy
        | FROM daily a JOIN daily b ON a.day < b.day),
        |m AS (
        | SELECT CAST(count(*) AS BIGINT) AS n0,
        |  CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS conc,
        |  CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS disc,
        |  CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        |  CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
        | FROM p)
        |SELECT n0 AS n_pairs, conc AS concordant, disc AS discordant,
        | CASE WHEN n0 - tx > 0 AND n0 - ty > 0 THEN
        |  round(CAST(conc - disc AS DOUBLE)
        |   / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)), 6)
        | END AS tau_b
        |FROM m""".stripMargin,
    // n²-scaled exact moments (HUGEINT ↔ decimal(38,0)); ordered cumsum
    // over the 24-row lag relation.
    "q331_acf_ljung_box" ->
      """WITH hourly AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |idx AS (SELECT c,
        |  CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS i FROM hourly),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS s FROM idx),
        |z AS (SELECT i, n, CAST(n * c - s AS HUGEINT) AS z FROM idx, tot),
        |den AS (SELECT CAST(sum(z * z) AS HUGEINT) AS den,
        |  max(n) AS n FROM z),
        |num AS (
        | SELECT k.k AS lag, CAST(sum(a.z * b.z) AS HUGEINT) AS num
        | FROM z a
        | JOIN (SELECT CAST(unnest(range(1, 25)) AS BIGINT) AS k) k ON true
        | JOIN z b ON b.i = a.i + k.k
        | GROUP BY 1),
        |r AS (
        | SELECT lag, n,
        |  CASE WHEN den > 0 THEN
        |   round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf
        | FROM num, den)
        |SELECT lag, acf,
        | round(CAST(n AS DOUBLE) * (n + 2) * sum(acf * acf
        |    / CAST(n - lag AS DOUBLE)) OVER (ORDER BY lag
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS lb_q
        |FROM r""".stripMargin,
    // quantile_cont ↔ percentile (q12's pairing); ties at the median drop.
    "q332_runs_test" ->
      """WITH hourly AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |med AS (SELECT quantile_cont(c, 0.5) AS m FROM hourly),
        |signed AS (
        | SELECT h, CASE WHEN c > m THEN 1 ELSE 0 END AS sg
        | FROM hourly, med WHERE c <> m),
        |lg AS (SELECT sg, lag(sg) OVER (ORDER BY h) AS pr FROM signed),
        |ag AS (
        | SELECT CAST(sum(CASE WHEN pr IS NULL OR pr <> sg THEN 1 ELSE 0 END)
        |   AS BIGINT) AS runs,
        |  CAST(sum(sg) AS BIGINT) AS n1,
        |  CAST(sum(1 - sg) AS BIGINT) AS n2
        | FROM lg)
        |SELECT n1 AS n_above, n2 AS n_below, runs,
        | CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
        |  round((CAST(runs AS DOUBLE)
        |    - (2.0 * n1 * n2 / CAST(n1 + n2 AS DOUBLE) + 1.0))
        |   / sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2))
        |    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1))), 4)
        | END AS z
        |FROM ag""".stripMargin,
    // exact-integer S and tie correction; Var(S) = int/18; ±1 continuity.
    "q333_mann_kendall" ->
      """WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |s AS (
        | SELECT CAST(coalesce(sum(CASE WHEN b.c > a.c THEN 1
        |   WHEN b.c < a.c THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
        | FROM daily a JOIN daily b ON a.day < b.day),
        |ties AS (
        | SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        |   AS tt
        | FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY c)
        | WHERE t > 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |v AS (SELECT s_stat, n,
        |  CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) / 18.0 AS var_s
        | FROM s, ties, nn)
        |SELECT n AS n_days, s_stat, round(var_s, 4) AS var_s,
        | CASE WHEN var_s > 0 THEN round(
        |  (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |        WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |        ELSE 0.0 END) / sqrt(var_s), 4) END AS z
        |FROM v""".stripMargin,
    // q325's doubled-midrank prefix device; AUC = (2R+ − n+(n+1))/(2n+n−).
    "q334_roc_auc" ->
      """WITH base AS (
        | SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |byc AS (
        | SELECT c, CAST(count(*) AS BIGINT) AS t,
        |  CAST(sum(lab) AS BIGINT) AS ta
        | FROM base GROUP BY 1),
        |pp AS (
        | SELECT t, ta, coalesce(CAST(sum(t) OVER (ORDER BY c
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS cum_before
        | FROM byc),
        |ag AS (
        | SELECT CAST(sum(ta * (2 * cum_before + t + 1)) AS HUGEINT) AS r2,
        |  CAST(sum(ta) AS BIGINT) AS np,
        |  CAST(sum(t - ta) AS BIGINT) AS nn
        | FROM pp)
        |SELECT np AS n_pos, nn AS n_neg,
        | CASE WHEN np > 0 AND nn > 0 THEN
        |  round(CAST(r2 - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE)
        |   / (2.0 * np * nn), 6) END AS auc
        |FROM ag""".stripMargin,
    // q125's per-doc raw-ln-sum precedent; exp of the ROUNDED average.
    "q335_bigram_perplexity" ->
      """WITH raw AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |  unnest(range(0, len(string_split(text, ' ')))) AS pos
        | FROM documents),
        |toks AS (SELECT doc_id, w, pos FROM raw WHERE length(w) > 0),
        |big AS (
        | SELECT doc_id, w AS w1,
        |  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        | FROM toks),
        |bg AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |       FROM bg GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vv FROM toks),
        |sc AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(sum(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + vv))) / count(*), 4)
        |    AS avg_lp
        | FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1), v
        | GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, avg_lp, round(exp(-avg_lp), 4) AS ppl
        |FROM sc""".stripMargin,
    // exact integer moments; mirrored staged floats; the ln(−ln(0.99))
    // constant is one shared literal.
    "q336_gumbel_maxima" ->
      """WITH hourly AS (
        | SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1),
        |mx AS (SELECT h // 24 AS day, max(c) AS m FROM hourly GROUP BY 1),
        |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(m) AS BIGINT) AS sm,
        |  CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS q FROM mx),
        |v AS (SELECT n, sm,
        |  CAST(CAST(n AS HUGEINT) * q - CAST(sm AS HUGEINT) * sm AS DOUBLE)
        |   / (CAST(n AS DOUBLE) * (n - 1)) AS var
        | FROM mom WHERE n > 1),
        |b AS (SELECT n, CAST(sm AS DOUBLE) / n AS mean,
        |  round(sqrt(var) * sqrt(6.0) / pi(), 6) AS gumbel_beta
        | FROM v WHERE var > 0),
        |mu AS (SELECT n AS n_blocks, gumbel_beta,
        |  round(mean - 0.5772156649015329 * gumbel_beta, 6) AS gumbel_mu
        | FROM b)
        |SELECT n_blocks, gumbel_mu, gumbel_beta,
        | round(gumbel_mu + 4.600149226776579 * gumbel_beta, 4) AS rl_100
        |FROM mu""".stripMargin
  )
}
