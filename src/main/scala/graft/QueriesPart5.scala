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

/** Queries q222–q261 (40 entries) — corpus dynamics, threshold sweeps, histogram/stat families,
  * hashing/centroid classifiers, partial-agg merges.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart5 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // Near-dup cluster size profile — the curation report read before
    // choosing a dedup threshold: how much of the corpus sits in
    // clusters of each size, from q70's exact (recall-1.0) components.
    // Two bounded hash aggs on top of the canonicalization; no new
    // scale surface.
    "q222_cluster_size_profile" -> ((s, d) =>
      Dedup.canonicalizeExact(doc(s, d), "text", "doc_id",
          k = 2, jaccardThreshold = 0.5)
        .groupBy("canonical_id").agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("__sz")).as("n_docs"))),
    // Streaming windowed p95 (bounded-histogram state) — see
    // EventsStream.windowedQuantile. The readout is integer-exact, so
    // the oracle replays bin → cumulative → ceil(0.95·n) verbatim.
    "q223_stream_quantile" -> ((s, d) =>
      EventsStream.windowedQuantile(s, d)),
    // Leave-one-out 10-NN majority-vote label eval over the embedding
    // table — the labeled-eval harness beside q205 (dedup P/R) and q213
    // (lang-ID): how well do raw embeddings separate the label classes?
    // Exact brute-force cosine IS the point here (the truth an ANN
    // recall eval needs; q35/q73/q81/q186 are the scale paths) — at
    // 100 TB this runs on a bounded SAMPLED eval set, so the all-pairs
    // join is eval-set², not corpus², and that contract is ENFORCED:
    // Similarity.requireEvalBound fail-louds past 100k vectors (a
    // limit-count probe, O(bound) rows even on a 100 TB table). Dot
    // products are the q27 sequential-fold device (bit parity proven);
    // all ranks and votes are exact integers with total-order tie-breaks.
    "q224_knn_eval" -> ((s, d) => {
      // Tight-loop dot/norm kernels (functions.VectorOps — bit-identical
      // to the HOF fold, ~50× less per-pair overhead) + norms computed
      // ONCE per vector, not per pair: same IEEE values, 4M fewer folds.
      val e = graft.similarity.Similarity.requireEvalBound(
          Tables.embeddings(s, d), maxEval = 100000L, what = "q224 embeddings")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm", graft.functions.NormD(col("v")))
      // pre-shuffle the query side by vec_id: the broadcast cross join's
      // parallelism is the STREAM side's partitioning, and the
      // single-row-group embeddings file gave it one task (measured:
      // the whole 4M-pair dot loop on one core, 4.6 s task CPU, r17);
      // per-pair kernels are pure functions, so partitioning is value-free
      val pairs = e.select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("v").as("qv"), col("nrm").as("qn"))
        .repartition(nPart(s), col("qid"))
        .crossJoin(e.select(col("vec_id").as("nid"),
          col("label").as("nlabel"), col("v").as("nv"), col("nrm").as("nn")))
        .filter(col("qid") =!= col("nid"))
        .withColumn("cos", graft.functions.DotProductD(col("qv"), col("nv")) /
          (col("qn") * col("nn")))
      // Top-10 per query via the bounded-heap aggregate instead of a
      // rank-≤-10 window (r18): the window form SORTED the whole pair
      // stream within map partitions (measured at a 20k-vector eval set:
      // 400M pair rows, 26.9 GB sort spill, 78 s wall — sf1 scaling
      // audit); TopKByScore keeps an O(10) buffer per query, collapses
      // the pair stream map-side, and selects the IDENTICAL set under
      // the same (cos DESC, nid ASC) total order (TopKByScoreSpec pins
      // the window parity).
      val votes = Rankings.topKByScore(pairs, Seq("qid", "qlabel"),
          col("cos"), col("nid"), 10, Seq("nlabel"))
        .groupBy("qid", "qlabel", "nlabel").agg(count(lit(1)).as("c"))
      votes.withColumn("vr", row_number().over(
          Window.partitionBy("qid").orderBy(col("c").desc, col("nlabel").asc)))
        .filter(col("vr") === 1)
        .groupBy(col("qlabel").as("true_label"),
          col("nlabel").as("pred_label"))
        .agg(count(lit(1)).as("n"))
    }),
    // Spearman rank correlation per return flag — the nonparametric
    // companion to q19's Pearson (monotone association, outlier-immune).
    // Mid-ranks via the q191 exact-integer device (2·avg_rank =
    // 2·cum − t + 1 over the DISTINCT-VALUE table, so the corpus never
    // sees a row-level rank window); every sum is an exact long, the
    // closing products ride decimal(38,0), and the single float
    // expression (one division, one sqrt) is mirrored op-for-op.
    "q225_spearman" -> ((s, d) => {
      val base = li(s, d).select(col("l_returnflag").as("g"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def ranks2(vc: String, out: String) =
        base.groupBy(col("g"), col(vc).as("v")).agg(count(lit(1)).as("t"))
          .withColumn("cum",
            sum(col("t")).over(Window.partitionBy("g").orderBy("v")))
          .select(col("g"), col("v").as(vc),
            (lit(2L) * col("cum") - col("t") + lit(1L)).as(out))
      val j = base
        .join(ranks2("x", "rx"), Seq("g", "x"))
        .join(ranks2("y", "ry"), Seq("g", "y"))
      val sums = j.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
      def dec(c: Column) = c.cast("decimal(38,0)")
      sums.select(col("g").as("l_returnflag"), col("n"),
        round((dec(col("n")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy")))
            .cast("double") /
          sqrt((dec(col("n")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx")))
              .cast("double") *
            (dec(col("n")) * dec(col("syy")) - dec(col("sy")) * dec(col("sy")))
              .cast("double")), 6).as("spearman"))
    }),
    // Mutual information between hashed-feature presence (the q211
    // buckets) and the source label — filter-method feature selection
    // (which features carry source signal). The full bucket × source
    // grid is BOUNDED (256 × |sources|), so zero-presence cells are
    // materialized and no MI mass is silently dropped; each cell's two
    // p·ln terms are rounded to integer micro-nats before the per-bucket
    // sum (the q192/q195 device — float association never crosses the
    // engines), and the top-20 window runs over 256 rows.
    "q226_mi_features" -> ((s, d) => {
      val w = doc(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 256)
            .as("b"))
        .distinct()
      val nd = doc(s, d).agg(count(lit(1)).as("__n"))
      val ns = doc(s, d).groupBy("source").agg(count(lit(1)).as("__nsrc"))
      val pres = w.groupBy("b", "source").agg(count(lit(1)).as("__cp"))
      val cb = pres.groupBy("b").agg(sum(col("__cp")).as("__cb"))
      val grid = cb.crossJoin(broadcast(ns))
        .join(pres, Seq("b", "source"), "left")
        .withColumn("__c", coalesce(col("__cp"), lit(0L)))
        .crossJoin(broadcast(nd))
      val terms = grid.withColumn("__t1",
          when(col("__c") > 0,
            col("__c").cast("double") / col("__n") *
              log(col("__c").cast("double") * col("__n") /
                (col("__cb").cast("double") * col("__nsrc"))))
            .otherwise(lit(0.0)))
        .withColumn("__t0",
          when(col("__nsrc") - col("__c") > 0,
            (col("__nsrc") - col("__c")).cast("double") / col("__n") *
              log((col("__nsrc") - col("__c")).cast("double") * col("__n") /
                ((col("__n") - col("__cb")).cast("double") * col("__nsrc"))))
            .otherwise(lit(0.0)))
        .withColumn("__micro",
          round(col("__t1") * lit(1e6)).cast("long") +
            round(col("__t0") * lit(1e6)).cast("long"))
      terms.groupBy(col("b").as("bucket"))
        .agg(round(sum(col("__micro")).cast("double") / lit(1e6), 6).as("mi"))
        .withColumn("__rn", row_number().over(
          Window.orderBy(col("mi").desc, col("bucket").asc)))
        .filter(col("__rn") <= 20).drop("__rn")
    }),
    // Windowed signal-energy segmentation over binary media — the
    // VAD/scene-cut shape (active-region detection per fixed frame) on
    // the q74 frame sampler: frames cut by codegen'd substr (no shuffle
    // until the caller aggregates), energy = Σ sample² as an EXACT long
    // (samples are byte codes in the harness codec — a real deployment
    // swaps the sample transform, plumbing identical), active = mean
    // square above threshold. Integer-exact end to end.
    "q227_media_energy" -> ((s, d) => {
      val frames = Multimodal.frameSample(
          Multimodal.mediaFromText(doc(s, d), "doc_id", "text"),
          frameBytes = 32, stride = 1)
        .withColumn("ft", decode(col("frame"), "UTF-8"))
      frames.withColumn("e2", expr(
          """aggregate(transform(sequence(1, 32),
            |  i -> CAST(ascii(substring(ft, i, 1))
            |          * ascii(substring(ft, i, 1)) AS BIGINT)),
            |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin))
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          col("e2"), (col("e2") > lit(320000L)).as("active"))
    }),
    // Streaming latest-per-key upsert view (CDC materialization) — see
    // EventsStream.latestPerKey: one max(struct) agg, state = one row
    // per key, order-insensitive by total-order struct comparison.
    "q228_stream_upsert" -> ((s, d) =>
      EventsStream.latestPerKey(s, d)),
    // NDCG@{1,5,10} of the q122 BM25 ranking against a deterministic
    // graded relevance (distinct query terms present, 0-3) — retrieval
    // eval harness #5 (dedup q205, CV q210, lang-ID q213, kNN q224).
    // Gains (2^rel−1)/log2(pos+1) ride integer micro-units per position
    // before the cutoff sums (q192 device; log2 spelled ln(x)/ln(2) on
    // BOTH engines so the op sequence is identical); NDCG is one
    // long/long division. Ideal ranking comes from TakeOrdered over the
    // rel>0 docs — no corpus window.
    "q229_ndcg" -> ((s, d) => {
      val terms = Seq("vector", "join", "scan")
      val cuts = array(Seq(1, 5, 10).map(lit): _*)
      def gainMicro(relc: Column, pos: Column): Column =
        round((pow(lit(2.0), relc.cast("double")) - lit(1.0)) /
          (log(pos.cast("double") + lit(1.0)) / log(lit(2.0))) * lit(1e6))
          .cast("long")
      val rel = doc(s, d).select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("rel"))
      val sys = graft.text.Bm25.topK(doc(s, d), "doc_id", "text", terms, 10)
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("g", gainMicro(col("rel"), col("rnk")))
      val sysD = sys.withColumn("k", explode(cuts))
        .filter(col("rnk") <= col("k"))
        .groupBy("k").agg(sum(col("g")).as("dcg_micro"))
      val ideal = rel.orderBy(col("rel").desc, col("doc_id").asc).limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("rel").desc, col("doc_id").asc)))
        .withColumn("g", gainMicro(col("rel"), col("rnk")))
      val idealD = ideal.withColumn("k", explode(cuts))
        .filter(col("rnk") <= col("k"))
        .groupBy("k").agg(sum(col("g")).as("idcg_micro"))
      sysD.join(idealD, Seq("k"))
        .select(col("k"), col("dcg_micro"), col("idcg_micro"),
          round(col("dcg_micro").cast("double") / col("idcg_micro"), 6)
            .as("ndcg"))
    }),
    // ANN recall@10 — the metric that justifies (or indicts) every
    // approximate index: IVF(16 cells, 4 probes) top-10 vs the exact
    // brute-force top-10 over a 50-query probe set. Hits are exact
    // integer set intersections; zero-overlap queries are restored by a
    // left join so the eval can't silently drop its failures. Eval
    // harness #6 — quantifies the q73 index the way q205 quantifies the
    // q32 LSH bands.
    "q230_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id") < 50)
      val cs = e.filter(col("vec_id") >= 50)
      val ivf = Similarity.ivfCosineTopK(qs, cs, "vec_id", "embedding",
          10, nCells = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.cosineTopK(qs, cs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(ivf, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("__h"))
      qs.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("__h"), lit(0L)).as("n_hits"),
          round(coalesce(col("__h"), lit(0L)).cast("double") / 10.0, 4)
            .as("recall"))
    }),
    // First-/last-touch attribution — every purchase credited to the
    // first and last click by the same user in the preceding hour (the
    // product-analytics leg beside q136 funnel / q137 retention). The
    // lookback theta-join is BANDED on the hour bucket (purchase probes
    // its own and the previous bucket — an equi-join, never a time-range
    // cross-product); first/last ride min/max(struct(ts, id)) exact
    // total orders, and clickless purchases stay visible via left join.
    "q231_attribution" -> ((s, d) => {
      val hourUs = 3600000000L
      val ev = ev_(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          col("tsu").as("ptsu"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), col("user_id"),
          col("tsu").as("ctsu"))
        .withColumn("band", expr(s"ctsu DIV $hourUs"))
      val probes = purchases.withColumn("band",
        explode(array(expr(s"ptsu DIV $hourUs"), expr(s"ptsu DIV $hourUs - 1"))))
      val j = probes.join(clicks, Seq("band", "user_id"))
        .filter(col("ctsu") <= col("ptsu") &&
          col("ctsu") >= col("ptsu") - hourUs)
      // typed arg_min/max_by (not min/max(struct).getField: the struct
      // buffer is immutable, so builtin would SortAggregate the whole
      // click-purchase pair stream)
      val agg = j.groupBy("pid").agg(
        count(lit(1)).as("n_clicks"),
        graft.functions.ArgMinBy(col("cid"), col("ctsu"), col("cid"))
          .as("first_click_id"),
        graft.functions.ArgMinBy.argMax(col("cid"), col("ctsu"), col("cid"))
          .as("last_click_id"))
      purchases.select(col("pid"))
        .join(agg, Seq("pid"), "left")
        .select(col("pid"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          col("first_click_id"), col("last_click_id"))
    }),
    // Near-dup threshold sweep — the tuning curve behind every
    // canonicalization deployment: cluster count, duplicated-doc count,
    // and dup rate at Jaccard 0.3 / 0.5 / 0.7, each from the exact
    // recall-1.0 components. ONE CC run over a threshold-TAGGED graph
    // instead of three sequential runs (r9 verdict item: the sweep paid
    // 3× the fixpoint rounds): node (thr_i, doc) packs as doc·8+i — the
    // 8 bound is structural (|thresholds| < 8 by construction, unlike a
    // data-dependent packed key) — and each pair edge fans out to every
    // threshold it survives, so the three subgraphs propagate labels in
    // PARALLEL inside each round and the round count is the MAX of the
    // three, not the sum. Min-label over packed ids refines per subgraph
    // because i is constant within a component (min(doc·8+i) = (min
    // doc)·8+i). The oracle folds all three thresholds into ONE
    // recursive CTE keyed by (threshold, node).
    "q232_dedup_threshold_sweep" -> ((s, d) => {
      // ONE PPJoin at the lowest threshold carries every higher one: the
      // pair table keeps its exact jaccard, so the 0.5/0.7 edge sets are
      // pure filters of the 0.3 pairs (recall 1.0 transfers) — the sweep
      // pays the similarity join once (minLabel checkpoints the tagged
      // edges before iterating, so PPJoin runs once, not per round).
      val thrs = Seq(0.3, 0.5, 0.7)
      val pairs = Dedup.ngramJaccardSelfPairs(doc(s, d), "text", "doc_id",
        k = 2, threshold = thrs.min)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      val tagged = pairs.select(col("id_a"), col("id_b"),
          explode(array(thrs.zipWithIndex.map { case (t, i) =>
            when(col("jaccard") >= t, lit(i.toLong)) }: _*)).as("__ti"))
        .filter(col("__ti").isNotNull)
        .select((col("id_a") * 8 + col("__ti")).as("id_a"),
          (col("id_b") * 8 + col("__ti")).as("id_b"))
      val taggedNodes = doc(s, d).select(col("doc_id").as("node"))
        .select(explode(array(thrs.indices.map(i =>
          col("node") * 8 + lit(i.toLong)): _*)).as("node"))
      val (labels, converged) = graft.graph.ConnectedComponents.minLabel(
        tagged, taggedNodes, maxRounds = 16)
      require(converged, "CC fixpoint not reached in the threshold sweep")
      val thrOf = element_at(array(thrs.map(lit): _*),
        (col("label") % 8).cast("int") + 1)
      labels.groupBy("label").agg(count(lit(1)).as("__sz"))
        .groupBy(thrOf.as("threshold")).agg(
          count(lit(1)).as("n_clusters"),
          sum(when(col("__sz") > 1, col("__sz")).otherwise(0L))
            .as("n_dup_docs"),
          sum(col("__sz")).as("__total"))
        .select(col("threshold"), col("n_clusters"), col("n_dup_docs"),
          round(col("n_dup_docs").cast("double") / col("__total"), 4)
            .as("dup_rate"))
    }),
    // IVF nProbe recall curve — the index-tuning companion to q230's
    // single point and q232's threshold sweep: recall@10 at 1/2/4/8
    // probes of 16 cells, every setting a FILTER of one shared candidate
    // join (see Similarity.ivfRecallCurve). Macro-averaged per setting;
    // per-query grids keep zero-hit probes visible.
    "q233_ivf_recall_curve" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfRecallCurve(
          e.filter(col("vec_id") < 50), e.filter(col("vec_id") >= 50),
          "vec_id", "embedding", k = 10, nCells = 16,
          nProbes = Seq(1, 2, 4, 8))
        .groupBy("n_probe").agg(
          sum(col("n_hits")).as("total_hits"),
          round(sum(col("n_hits")).cast("double") /
            (count(lit(1)) * 10), 4).as("mean_recall"))
    }),
    // MinHash-LSH band-shape sweep — the s-curve measured across
    // 16 hashes split as 16×1 / 8×2 / 4×4 bands (more bands = higher
    // recall, wider bands = higher precision): P/R/F1 per shape against
    // the shared exact-Jaccard truth (the q205 single point becomes the
    // tuning curve, completing the sweep family q232/q233). Truth is
    // computed ONCE; the banding is the only thing that varies.
    "q234_lsh_band_curve" -> ((s, d) => {
      val truth = graft.io.Checkpoints.truncate(
        Dedup.ngramJaccardSelfPairs(doc(s, d), "text", "doc_id",
          k = 3, threshold = 0.5)
          .select(col("id_a"), col("id_b")), eager = true)
      val configs = Seq((16, 1), (8, 2), (4, 4))
      // one signature pass + one finest-banding self-join for all three
      // configs (each shares bands·rpb = 16) instead of three of each —
      // per-config rows identical to the per-config minHashLsh calls
      // (Dedup.minHashLshSweep scaladoc + MinHashLshSweepSpec parity)
      val preds = Dedup.minHashLshSweep(doc(s, d), "text", "doc_id", k = 3,
          configs, threshold = 0.5, family = "md5p61")
        .select(col("bands"), col("rpb"), col("id_a"), col("id_b"))
      val truthX = truth.crossJoin(
        litConfigs(s)(configs, "bands", "rpb"))
      preds.withColumn("__p", lit(1L))
        .join(truthX.withColumn("__t", lit(1L)),
          Seq("bands", "rpb", "id_a", "id_b"), "full_outer")
        .groupBy("bands", "rpb").agg(
          sum(when(col("__p").isNotNull && col("__t").isNotNull, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("__p").isNotNull && col("__t").isNull, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("__p").isNull && col("__t").isNotNull, 1L)
            .otherwise(0L)).as("fn"))
        .select(col("bands"), col("rpb"), col("tp"), col("fp"), col("fn"),
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
            .as("prec"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6)
            .as("rec"))
    }),
    // Ridge regression coefficient path — the regularization leg of the
    // model family (q36 OLS, q37 logistic, q42 tree): β(λ) at λ =
    // 0/1/10/100 from ONE distributed moment pass, each solve a k×k
    // driver-side elimination (bounded by model width, the olsExact
    // precedent). λ=0 reproduces OLS exactly; the shrinkage toward zero
    // across the path is the operator's observable.
    "q235_ridge_path" -> ((s, d) =>
      Models.ridgePath(
          li(s, d).select(col("l_quantity"),
            (col("l_discount") * 100).as("disc_pct"),
            (col("l_tax") * 100).as("tax_pct"),
            (col("l_extendedprice") / 1000).as("price_k")),
          "price_k", Seq("l_quantity", "disc_pct", "tax_pct"),
          lambdas = Seq(0.0, 1.0, 10.0, 100.0))
        .select(col("lambda"), col("term"), round(col("est"), 6).as("est"))),
    // Leave-one-out mean target encoding — the feature-engineering step
    // that turns a high-cardinality category into a numeric feature
    // WITHOUT leaking the row's own label: enc_i = (S_c − y_i)/(n_c − 1).
    // One hash agg + a broadcast join back (category-cardinality table);
    // the per-category sum is rounded 4 dp before the subtraction so
    // both engines enter the per-row arithmetic on identical bits
    // (the mu/sigma q93 rule); singleton categories stay null.
    "q236_target_encoding" -> ((s, d) => {
      val o = ord(s, d).select(col("o_orderkey"),
        col("o_orderpriority").as("cat"),
        col("o_totalprice").as("y"))
      val stats = o.groupBy("cat").agg(
        round(sum(col("y")), 4).as("__s"), count(lit(1)).as("__n"))
      o.join(broadcast(stats), Seq("cat"))
        .select(col("o_orderkey"), col("cat"),
          when(col("__n") > 1,
            round((col("__s") - col("y")) / (col("__n") - 1), 4))
            .as("loo_enc"))
    }),
    // Weight-of-evidence encoding — the binary-target companion to q236
    // (credit-scoring's categorical encoder): WOE_c = ln(bad share) −
    // ln(good share), add-half smoothed so empty cells stay finite.
    // Pure integer counts into ONE mirrored ln expression per category
    // (no float sums — the q150 parity shape), category-cardinality
    // output.
    "q237_woe_encoding" -> ((s, d) => {
      val o = ord(s, d).select(col("o_orderpriority").as("cat"),
        (col("o_orderstatus") === "F").as("bad"))
      val per = o.groupBy("cat").agg(
        sum(when(col("bad"), 1L).otherwise(0L)).as("bad_c"),
        sum(when(!col("bad"), 1L).otherwise(0L)).as("good_c"))
      val tot = per.agg(sum(col("bad_c")).as("__bt"),
        sum(col("good_c")).as("__gt"))
      per.crossJoin(broadcast(tot))
        .select(col("cat"), col("bad_c"), col("good_c"),
          round(log((col("bad_c").cast("double") + 0.5) /
              (col("__bt").cast("double") + 0.5)) -
            log((col("good_c").cast("double") + 0.5) /
              (col("__gt").cast("double") + 0.5)), 6).as("woe"))
    }),
    // Built-in session_window streaming sessionization — the declarative
    // twin of q67's hand-rolled state machine (Spark merges the windows,
    // owns the state). Boundary rule is >= (a gap of exactly 30 min
    // starts a session), unlike q31's strict >; the oracle mirrors it in
    // epoch micros. See EventsStream.sessionWindowCounts.
    "q238_session_window" -> ((s, d) =>
      EventsStream.sessionWindowCounts(s, d)),
    // Merkle-style table digest — io.MerkleAudit.tableDigest with the
    // fixture-scale 2-char prefix (256 buckets); the operator's
    // prefixChars parameter is how the fan-out scales (16^w buckets →
    // per-bucket state |rows|/16^w), so the bounded-group-state claim is
    // a knob, not a hope. Sorting inside each digest level makes the
    // result partition-order-free; two engines computing the same root
    // proves the copy byte-identical without moving rows.
    "q239_merkle_audit" -> ((s, d) =>
      graft.io.MerkleAudit.tableDigest(ord(s, d), Seq(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderpriority")), prefixChars = 2)),
    // Per-group OLS ("many models" at scale): slope/intercept/R² of
    // price~quantity per return flag as pure aggregate algebra
    // (covar_pop/var_pop/corr — one hash agg, no per-group fitting
    // loop). The q20 closed form lifted from global to grouped; floats
    // rounded 6 dp on both engines (q19 rule).
    "q240_groupwise_ols" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")) /
          var_pop(col("l_quantity")), 6).as("slope"),
        round(avg(col("l_extendedprice")) -
          covar_pop(col("l_quantity"), col("l_extendedprice")) /
            var_pop(col("l_quantity")) * avg(col("l_quantity")), 6)
          .as("intercept"),
        round(corr(col("l_quantity"), col("l_extendedprice")) *
          corr(col("l_quantity"), col("l_extendedprice")), 6).as("r2"))),
    // TPC-H Q3 (shipping priority) — the canonical 3-table
    // filter→join→agg→top-k plan: segment filter reaches the customer
    // scan, date predicates reach orders/lineitem, dims broadcast, and
    // the top-10 rides TakeOrderedAndProject on (rounded revenue desc,
    // orderkey) — no corpus sort, no corpus window.
    "q241_tpch_q3" -> ((s, d) => {
      val cut = "1997-07-01"
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      val o = ord(s, d).filter(col("o_orderdate") < lit(cut).cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = li(s, d).filter(col("l_shipdate") > lit(cut).cast("timestamp"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), Seq("o_custkey"))
        .groupBy(col("l_orderkey"),
          unix_timestamp(col("o_orderdate")).as("o_orderdate_s"))
        .agg(round(sum(col("rev")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // Seasonal-naive forecast eval — the time-series baseline every
    // fancier model must beat: forecast(hour) = count(hour − 24h) per
    // event type, scored by MAPE over hours where both sides exist.
    // Counts are exact ints; each hour's |a−f|/a rides integer
    // micro-units before the per-type sum (q192 device), so the one
    // float division closes the metric deterministically.
    "q242_seasonal_mape" -> ((s, d) => {
      val hourly = ev(s, d).groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts")))).as("h"))
        .agg(count(lit(1)).as("a"))
      val fc = hourly.select(col("event_type"),
        (col("h") + 86400L).as("h"), col("a").as("f"))
      hourly.join(fc, Seq("event_type", "h"))
        .withColumn("__m", round(abs(col("a") - col("f")).cast("double") /
          col("a") * lit(1e6)).cast("long"))
        .groupBy("event_type").agg(
          count(lit(1)).as("n_hours"),
          round(sum(col("__m")).cast("double") / (count(lit(1)) * lit(1e6)), 6)
            .as("mape"))
    }),
    // PSI drift time series — q146's two-window PSI unrolled into the
    // monitoring feed a deployment actually charts: weekly value
    // distribution vs the FIRST week, fixed 10-bin histogram (no
    // percentile seam), add-half smoothing so empty cells stay finite,
    // per-bin p·ln terms in integer micro-nats (q192 device) before the
    // per-week sum. Everything is bounded: weeks × 10 bins.
    "q243_psi_drift_series" -> ((s, d) => {
      val binned = ev(s, d).select(
        unix_timestamp(date_trunc("week", col("ts"))).as("wk"),
        least(floor(col("value") / 50).cast("long"), lit(9L)).as("bin"))
      val counts = binned.groupBy("wk", "bin").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("wk").agg(sum(col("c")).as("n"))
      val w0 = totals.agg(min(col("wk")).as("wk0"))
      val bins = (0L to 9L).toList
      val grid = totals.crossJoin(broadcast(w0))
        .withColumn("bin", explode(array(bins.map(lit): _*)))
        .join(counts, Seq("wk", "bin"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("p", (col("c").cast("double") + 0.5) /
          (col("n").cast("double") + 5.0))
      val base = grid.filter(col("wk") === col("wk0"))
        .select(col("bin"), col("p").as("pb"))
      grid.filter(col("wk") =!= col("wk0"))
        .join(broadcast(base), Seq("bin"))
        .withColumn("__t", round((col("p") - col("pb")) *
          log(col("p") / col("pb")) * lit(1e6)).cast("long"))
        .groupBy("wk").agg(
          round(sum(col("__t")).cast("double") / lit(1e6), 6).as("psi"))
    }),
    // Time-series lag features — the feature-engineering step ahead of
    // any sequential model: per-user lag-1/lag-2 values and a 3-event
    // rolling mean. The rolling sum rides EXACT cent-scaled longs (the
    // corpus is 2-dp by construction, verified at load), so the sliding
    // frame has no float-accumulation seam — both engines divide the
    // same integer. Windows are user-partitioned; nothing corpus-wide.
    "q244_lag_features" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("tsu"), col("event_id"))
      val f = w.rowsBetween(-2, 0)
      ev(s, d).filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"), col("value"))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("user_id"), col("tsu"),
          lag(col("cents"), 1).over(w).as("__l1"),
          lag(col("cents"), 2).over(w).as("__l2"),
          sum(col("cents")).over(f).as("__s3"),
          count(lit(1)).over(f).as("__n3"))
        .select(col("event_id"), col("user_id"),
          round(col("__l1").cast("double") / 100, 2).as("lag1_value"),
          round(col("__l2").cast("double") / 100, 2).as("lag2_value"),
          round(col("__s3").cast("double") / col("__n3") / 100, 4)
            .as("r3_mean"))
    }),
    // Week-over-week revenue growth per nation — the period-over-period
    // BI primitive: weekly sums as EXACT cent longs (no float sum at
    // any width), growth = (cur − prev)/prev in integer micro-units.
    // The lag window runs over the bounded (nation × week) table.
    "q245_wow_growth" -> ((s, d) => {
      val weekly = li(s, d)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .join(ord(s, d).select(col("o_orderkey"), col("o_custkey"),
          unix_timestamp(date_trunc("week", col("o_orderdate"))).as("wk")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))),
          Seq("o_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
          Seq("c_nationkey"))
        .groupBy("n_name", "wk").agg(sum(col("cents")).as("rev_cents"))
      val w = Window.partitionBy("n_name").orderBy("wk")
      weekly.withColumn("__prev", lag(col("rev_cents"), 1).over(w))
        .select(col("n_name"), col("wk"),
          round(col("rev_cents").cast("double") / 100, 2).as("revenue"),
          when(col("__prev").isNotNull && col("__prev") =!= 0,
            round((col("rev_cents") - col("__prev")).cast("double") /
              col("__prev"), 6)).as("wow_growth"))
    }),
    // Hourly count-spike detection — the ops-monitoring anomaly feed:
    // each (type, hour) count z-scored against the type's own hourly
    // distribution. Counts and their square sums are exact longs (one
    // bounded agg per type), the z is a single mirrored float expression
    // (q191 shape), spike = z > 3. Degenerate groups (one hour, or zero
    // variance) yield NULL z/spike deterministically on both engines —
    // unguarded they'd be 0/0, where Spark IEEE NaN and DuckDB
    // division semantics can diverge. Nothing corpus-wide: the stats
    // table is |types| rows.
    "q246_count_spikes" -> ((s, d) => {
      val hourly = ev(s, d).groupBy(col("event_type"),
          unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
        .agg(count(lit(1)).as("a"))
      val stats = hourly.groupBy("event_type").agg(
        count(lit(1)).as("__n"), sum(col("a")).as("__s1"),
        sum(col("a") * col("a")).as("__s2"))
      hourly.join(broadcast(stats), Seq("event_type"))
        .withColumn("__mean", col("__s1").cast("double") / col("__n"))
        // the n>1 guard must wrap the /(n-1) itself: under ANSI mode a
        // one-hour type throws DIVIDE_BY_ZERO before any later when()
        // could mask it (caught by the EvalStatsSpec degenerate fixture)
        .withColumn("__var", when(col("__n") > 1,
          (col("__s2").cast("double") -
            col("__s1").cast("double") * col("__s1") / col("__n")) /
            (col("__n") - 1)))
        .withColumn("__sd", when(col("__var") > 0, sqrt(col("__var"))))
        .select(col("event_type"), col("h"), col("a"),
          round((col("a") - col("__mean")) / col("__sd"), 4).as("z"),
          ((col("a") - col("__mean")) / col("__sd") > 3.0).as("spike"))
    }),
    // Token-budget data selection — "give me the best B tokens": greedy
    // by (token count desc, doc_id) until the budget fills. The greedy
    // prefix decomposes into exact VALUE-level cumulative sums (tokens
    // is a bounded integer) + a per-value running sum — the two-phase
    // device keyed by score value, so no corpus-wide window exists and
    // the cut is reproducible at any scale. Reported per source.
    "q247_token_budget" -> ((s, d) => {
      val budget = 25000L
      val docs = doc(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      val perVal = docs.groupBy("toks").agg(sum(col("toks")).as("__vt"))
      val offs = perVal.withColumn("__before", coalesce(
          sum(col("__vt")).over(Window.orderBy(col("toks").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("toks"), col("__before"))
      val ranked = docs.withColumn("__run", sum(col("toks")).over(
          Window.partitionBy("toks").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(offs), Seq("toks"))
        .filter(col("__before") + col("__run") <= budget)
      ranked.groupBy("source").agg(
        count(lit(1)).as("n_kept"),
        sum(col("toks")).as("tokens_kept"))
    }),
    // Deterministic negative sampling — contrastive-training pair
    // generation: per anchor, the first 4 of 8 md5-uniform candidate
    // draws whose label differs (the q103/q201 seeded-hash device, so
    // an external engine replays the exact pair set). One candidate
    // equi-join on id; per-anchor windows over ≤8 rows. A deployment
    // swaps the hash for a secret seed; the plumbing — draw, reject,
    // rank — is identical.
    "q248_negative_sampling" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val n = e.agg(count(lit(1)).as("__n"))
      val trials = e.crossJoin(broadcast(n))
        .withColumn("t", explode(array((0 until 8).map(lit): _*)))
        .withColumn("cand", conv(substring(md5(concat(lit("neg_"),
          col("vec_id"), lit("_"), col("t"))), 1, 8), 16, 10).cast("long")
          % col("__n"))
      trials.join(e.select(col("vec_id").as("cand"),
          col("label").as("cand_label")), Seq("cand"))
        .filter(col("cand_label") =!= col("label") &&
          col("cand") =!= col("vec_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy("t")))
        .filter(col("rk") <= 4)
        .select(col("vec_id").as("anchor_id"), col("cand").as("neg_id"),
          col("rk"))
    }),
    // Append-mode watermarked windows — q29's complete-mode aggregation
    // under the OTHER output contract: a window row is emitted exactly
    // once, when the watermark (terminal max event time − 1 h) passes
    // its end — the semantics a downstream incremental consumer relies
    // on. The oracle recomputes the batch windows and keeps only the
    // watermark-sealed ones, pinning the emission boundary in SQL.
    "q249_stream_append_windows" -> ((s, d) =>
      EventsStream.windowedCountsAppend(s, d)),
    // Corpus health scorecard — the one-row "dataset card" summary every
    // release ships: doc/token totals, exact-dup rate (md5 distinct),
    // source/language coverage, mean length. One multi-distinct hash
    // agg over one scan; every number exact until two mirrored
    // divisions.
    "q250_corpus_scorecard" -> ((s, d) =>
      doc(s, d)
        .select(col("text"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          countDistinct(md5(col("text"))).as("n_distinct_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"))
        .select(col("n_docs"), col("n_tokens"), col("n_distinct_docs"),
          col("n_sources"), col("n_langs"),
          round(lit(1.0) - col("n_distinct_docs").cast("double") /
            col("n_docs"), 6).as("dup_rate"),
          round(col("n_tokens").cast("double") / col("n_docs"), 4)
            .as("mean_doc_tokens"))),
    // TPC-H Q17 shape — the correlated-average filter ("lines under 20%
    // of their part's average quantity"), decorrelated the way Catalyst
    // itself would: the per-part threshold is ONE agg restricted to the
    // brand's partkeys BEFORE aggregating (no full-corpus threshold
    // table), then an equi-join back. The threshold compare is
    // engine-exact: l_quantity is integer-valued, so sum/avg are exact
    // doubles at any summation order and avg·0.2 is one identical IEEE
    // product. Revenue rides the cents device (per-row round-to-integer
    // of an identical double → exact long sums).
    "q251_small_qty_revenue" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2"))
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      val l = li(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(p), "l_partkey")
      val th = l.groupBy("l_partkey")
        .agg((avg(col("l_quantity")) * 0.2).as("__lim"))
      l.join(broadcast(th), "l_partkey")
        .filter(col("l_quantity") < col("__lim"))
        .groupBy("p_brand").agg(
          count(lit(1)).as("n_small"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("revenue_cents"))
    }),
    // TPC-H Q21 shape — "the supplier who alone held up a multi-supplier
    // order": the EXISTS (another supplier) / NOT EXISTS (another LATE
    // supplier) pair decorrelated into one per-(order, supplier) agg +
    // one per-order agg, so the whole multi-exists plan is two keyed
    // shuffles (orderkey, then suppkey) instead of two correlated
    // subquery scans. "Late" = shipped >45 days after the order date
    // (the schema carries no receipt/commit dates); all compares are
    // exact timestamps/longs.
    "q252_sole_late_supplier" -> ((s, d) => {
      val lines = li(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_orderdate")), "l_orderkey")
      val supOrd = lines.groupBy("l_orderkey", "l_suppkey").agg(
        max((col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 45 DAYS")).cast("long"))
          .as("late"))
      val perOrder = supOrd.groupBy("l_orderkey").agg(
        count(lit(1)).as("__n_supp"), sum(col("late")).as("__n_late"))
      supOrd.filter(col("late") === 1)
        .join(perOrder.filter(col("__n_supp") >= 2 && col("__n_late") === 1),
          "l_orderkey")
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))), "s_suppkey")
        .select("s_suppkey", "s_name", "numwait")
    }),
    // Referential-integrity audit — the data-contract gate an ingest
    // pipeline runs before publishing: orphan counts for every FK edge
    // of the star schema plus duplicate-key counts for every PK. Each FK
    // check is one left join against the DISTINCT parent keys (small
    // parents broadcast; the lineitem-side joins shuffle on the key);
    // each PK check is one groupBy. All outputs exact longs.
    "q253_referential_audit" -> ((s, d) => {
      // No broadcast hint on the parent: nation/region are bounded dims
      // (Catalyst broadcasts them from size stats) but orders/customer
      // are corpus-cardinality — a hard hint there is the exact
      // executor-OOM class ScaleGuardSpec polices. AQE picks per parent.
      def fk(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame =
        child.select(col(ck).as("__k"))
          .join(parent.select(col(pk).as("__k")).distinct()
            .withColumn("__p", lit(1L)), Seq("__k"), "left")
          .agg(sum(when(col("__p").isNull, 1L).otherwise(0L)).as("n_bad"),
            count(lit(1)).as("n_checked"))
          .select(lit(name).as("check"), col("n_bad"), col("n_checked"))
      def pk(name: String, t: DataFrame, k: String): DataFrame =
        t.groupBy(col(k)).agg(count(lit(1)).as("__c"))
          .agg(sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_bad"),
            count(lit(1)).as("n_checked"))
          .select(lit(name).as("check"), col("n_bad"), col("n_checked"))
      val cust = Tables.customer(s, d)
      val nat = Tables.nation(s, d)
      Seq(
        fk("fk_lineitem_orders", li(s, d), "l_orderkey", ord(s, d), "o_orderkey"),
        fk("fk_lineitem_part", li(s, d), "l_partkey", Tables.part(s, d), "p_partkey"),
        fk("fk_lineitem_supplier", li(s, d), "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
        fk("fk_orders_customer", ord(s, d), "o_custkey", cust, "c_custkey"),
        fk("fk_customer_nation", cust, "c_nationkey", nat, "n_nationkey"),
        fk("fk_supplier_nation", Tables.supplier(s, d), "s_nationkey", nat, "n_nationkey"),
        fk("fk_nation_region", nat, "n_regionkey", Tables.region(s, d), "r_regionkey"),
        pk("pk_orders", ord(s, d), "o_orderkey"),
        pk("pk_customer", cust, "c_custkey"),
        pk("pk_part", Tables.part(s, d), "p_partkey"),
        pk("pk_supplier", Tables.supplier(s, d), "s_suppkey"),
        pk("pk_nation", nat, "n_nationkey"))
        .reduce(_.unionByName(_))
    }),
    // Encoding-quality scan — the mojibake/control-char audit every web
    // corpus needs: the clean synthetic corpus gets deterministic damage
    // planted per doc_id%7 class (the q185 plant-then-detect device —
    // UTF-8-as-Latin-1 "Ã©", the "â€™" triple, U+FFFD, a BEL control
    // char, NBSP), and the detector reports per-source rates. Detection
    // is instr on the planted markers (engine-identical codepoint
    // search; a production sweep widens to regex classes) — pure
    // per-row work, one |sources|-group agg, zero extra shuffle.
    "q254_mojibake_scan" -> ((s, d) => {
      val planted = doc(s, d).select(col("source"), concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" cafÃ©"))
          .when(col("doc_id") % 7 === 1, lit(" itâ€™s"))
          .when(col("doc_id") % 7 === 2, lit(" bad�byte"))
          .when(col("doc_id") % 7 === 3, lit(" ringtone"))
          .when(col("doc_id") % 7 === 4, lit(" non break"))
          .otherwise(lit(""))).as("text2"))
      planted.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum((instr(col("text2"), "Ã") > 0 ||
          instr(col("text2"), "â€") > 0).cast("long"))
          .as("n_mojibake"),
        sum((instr(col("text2"), "�") > 0).cast("long")).as("n_replacement"),
        sum((instr(col("text2"), "") > 0).cast("long")).as("n_control"),
        sum((instr(col("text2"), " ") > 0).cast("long")).as("n_nbsp"))
        .withColumn("clean_rate", round(lit(1.0) -
          (col("n_mojibake") + col("n_replacement") + col("n_control") +
            col("n_nbsp")).cast("double") / col("n_docs"), 4))
    }),
    // Padding-efficiency audit — the batching decision every trainer
    // makes: fixed batches of 16 sequences padded to the batch max, cost
    // compared between hash-shuffled order and length-sorted order
    // (sorted batching is the standard padding-waste fix; this measures
    // what it buys on THIS corpus). Batching runs per source — the
    // shard-level sort a packing job does anyway; a global variant would
    // use q193's two-phase rank. All token counts exact longs; the one
    // ratio divides exact ints.
    "q255_padding_efficiency" -> ((s, d) => {
      val docs = doc(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      def batched(rank: Column, strategy: String): DataFrame =
        docs.withColumn("__b", floor((rank - 1) / 16))
          .groupBy(col("source"), col("__b")).agg(
            count(lit(1)).as("__n"), max(col("toks")).as("__mx"),
            sum(col("toks")).as("__sum"))
          .groupBy("source").agg(
            count(lit(1)).as("n_batches"),
            sum(col("__sum")).as("tokens"),
            sum(col("__mx") * col("__n")).as("padded"))
          .select(col("source"), lit(strategy).as("strategy"),
            col("n_batches"), col("tokens"), col("padded"),
            round((col("padded") - col("tokens")).cast("double") /
              col("padded"), 4).as("waste_rate"))
      val bySorted = batched(row_number().over(Window.partitionBy("source")
        .orderBy(col("toks").desc, col("doc_id"))), "sorted")
      val byHash = batched(row_number().over(Window.partitionBy("source")
        .orderBy(md5(concat(lit("pad_"), col("doc_id"))), col("doc_id"))),
        "hashed")
      bySorted.unionByName(byHash)
    }),
    // Systematic PPS sampling — operators.Sampling.systematicPps over
    // token-count weights: 100 equally-spaced probe points on the
    // cumulative-weight line, each doc taken once per probe in its
    // interval. ALL integer arithmetic (see the operator's scaladoc for
    // the odd-count identity), so the sample is bit-identical on any
    // engine/partitioning; Σ copies = 100 exactly (SamplingSpec).
    "q256_systematic_pps" -> ((s, d) =>
      graft.operators.Sampling.systematicPps(
        doc(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks")),
        "doc_id", "toks", n = 100L)),
    // Quality-threshold sweep — the q232 pattern on a map-only score:
    // keep-rate and surviving tokens at five alpha-ratio cutoffs from ONE
    // corpus scan (score computed once, thresholds exploded from a
    // 5-element literal). The score division is exact-int/exact-int (one
    // identical double) compared to literal thresholds — engine-exact.
    "q257_quality_sweep" -> ((s, d) => {
      val scored = doc(s, d).select(
        size(split(col("text"), " ")).cast("long").as("toks"),
        alphaRatio.as("__score"))
      scored.select(col("toks"), col("__score"),
          explode(array(Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*))
            .as("threshold"))
        .groupBy("threshold").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("__score") >= col("threshold"), 1L).otherwise(0L))
            .as("n_keep"),
          sum(when(col("__score") >= col("threshold"), col("toks"))
            .otherwise(0L)).as("tokens_kept"))
        .withColumn("keep_rate",
          round(col("n_keep").cast("double") / col("n_docs"), 4))
    }),
    // Corpus length profile in exact log2 bins — the doc-length histogram
    // every dataset card plots, with the bucket computed EXACTLY as the
    // binary-representation length (floor(log2) with zero float seam —
    // log2() would flip at exact powers of two) per source.
    "q258_length_log_histogram" -> ((s, d) =>
      doc(s, d).select(col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .withColumn("bucket", (length(bin(col("toks"))) - 1).cast("long"))
        .groupBy("source", "bucket").agg(
          count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
        .withColumn("lo", expr("CAST(1 AS BIGINT) << CAST(bucket AS INT)"))
        .withColumn("hi", col("lo") * 2 - 1)),
    // Export shard manifest — the planning table a 100 TB export writes
    // before moving bytes: deterministic md5 sharding (the q103 seeded-
    // hash device, engine-replayable), per-shard row/byte totals, id
    // range, and an ORDER-FREE content digest (bit_xor of per-row 60-bit
    // md5 prefixes — xor commutes, so the digest is partition-order-
    // independent with no sort and no overflow). One |shards|-group agg.
    "q259_export_manifest" -> ((s, d) =>
      doc(s, d).select(col("doc_id"), col("text"))
        .withColumn("shard", conv(substring(md5(concat(lit("shard_"),
          col("doc_id"))), 1, 4), 16, 10).cast("long") % 16)
        .withColumn("__fp", conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long"))
        .groupBy("shard").agg(
          count(lit(1)).as("n_rows"),
          sum(length(col("text")).cast("long")).as("bytes"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          expr("bit_xor(__fp)").as("digest"))),
    // Out-of-order CDC → latest-wins snapshot: the changelog-compaction
    // MERGE every lakehouse table needs, with versions arriving in ANY
    // order (q127's upsert assumes a clean op batch). Latest per key by
    // the total order (tsu, event_id) via ONE max-struct agg — no window,
    // one keyed shuffle; 'error' acts as the tombstone op (the harness
    // changelog has no delete type), so a key whose LAST version is a
    // tombstone leaves the snapshot entirely.
    "q260_cdc_snapshot" -> ((s, d) => {
      // typed arg_max_by carrying the struct as PAYLOAD, ordered by the
      // unique (tsu, event_id) — identical winner to builtin max(struct)
      // (the third field never decides a comparison), but hash-aggregable
      // where the immutable struct buffer would force SortAggregate
      ev_(s, d).groupBy("user_id").agg(
          graft.functions.ArgMinBy.argMax(
            struct(col("tsu"), col("event_id"), col("event_type")),
            col("tsu"), col("event_id")).as("__last"),
          count(lit(1)).as("n_changes"))
        .filter(col("__last.event_type") =!= "error")
        .select(col("user_id"), col("__last.event_id").as("last_event_id"),
          col("__last.tsu").as("last_tsu"), col("n_changes"))
    }),
    // ANALYZE TABLE, long form — the per-column statistics a cost-based
    // planner (and every data catalog) keeps: one row per column with
    // exact NDV, null count, and min/max/avg-length over a CANONICAL
    // string encoding (longs print identically on every engine; floats
    // and timestamps would not, so they ride exact cents/micros — the
    // encoding is part of the profile's contract). One scan: stack
    // unpivots the row to (column, value) pairs, one 6-group agg.
    // min/max ride the typed min_str/max_str (builtin string min/max
    // buffers are immutable → the profiler's whole aggregation would
    // SortAggregate the unpivoted corpus; PLAN_AUDIT caught it).
    "q261_analyze_columns" -> ((s, d) =>
      // pre-shuffle by order key: the 6-way stack + partial distinct agg
      // ran on the single-row-group orders scan's ONE task (measured
      // 4.1 s task CPU, r17); stack output is per-row, partitioning-free
      ord(s, d).repartition(nPart(s), col("o_orderkey")).selectExpr(
        """stack(6,
          | 'o_orderkey', CAST(o_orderkey AS STRING),
          | 'o_custkey', CAST(o_custkey AS STRING),
          | 'o_orderstatus', o_orderstatus,
          | 'o_orderpriority', o_orderpriority,
          | 'o_totalprice_cents',
          |   CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),
          | 'o_orderdate_us',
          |   CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING)
          |) AS (column, value)""".stripMargin)
        .groupBy("column").agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("value")).as("ndv"),
          graft.functions.ExtremeString.minStr(col("value")).as("min_value"),
          graft.functions.ExtremeString.maxStr(col("value")).as("max_value"),
          round(avg(length(col("value"))), 4).as("avg_len")))
  )

  val oracle: Map[String, String] = Map(
    "q222_cluster_size_profile" ->
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
        | WHERE cc.label < e.a),
        |comp AS (SELECT node, min(label) AS cid FROM cc GROUP BY node),
        |sz AS (SELECT cid, count(*) AS csize FROM comp GROUP BY cid)
        |SELECT csize AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(sum(csize) AS BIGINT) AS n_docs
        |FROM sz GROUP BY csize""".stripMargin,
    "q223_stream_quantile" ->
      """WITH h AS (
        | SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
        |    AS win_start,
        |  event_type, CAST(floor(value) AS BIGINT) AS bin, count(*) AS c
        | FROM events GROUP BY 1, 2, 3),
        |t AS (
        | SELECT win_start, event_type, CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(ceil(sum(c) * 0.95::DOUBLE) AS BIGINT) AS target
        | FROM h GROUP BY 1, 2),
        |cum AS (
        | SELECT win_start, event_type, bin,
        |  CAST(sum(c) OVER (PARTITION BY win_start, event_type
        |    ORDER BY bin) AS BIGINT) AS cum
        | FROM h)
        |SELECT c.win_start, c.event_type, t.n_events, min(c.bin) AS p95_bin
        |FROM cum c JOIN t USING (win_start, event_type)
        |WHERE c.cum >= t.target
        |GROUP BY c.win_start, c.event_type, t.n_events""".stripMargin,
    "q224_knn_eval" ->
      """WITH e AS (
        | SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |p AS (
        | SELECT a.vec_id AS qid, a.label AS qlabel,
        |  b.vec_id AS nid, b.label AS nlabel,
        |  list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]),
        |    (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |   AS cos
        | FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (
        | SELECT qid, qlabel, nlabel,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        | FROM p),
        |votes AS (
        | SELECT qid, qlabel, nlabel, count(*) AS c
        | FROM r WHERE rnk <= 10 GROUP BY qid, qlabel, nlabel),
        |pred AS (
        | SELECT qid, qlabel, nlabel AS plabel FROM (
        |  SELECT qid, qlabel, nlabel,
        |   row_number() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS vr
        |  FROM votes) t WHERE vr = 1)
        |SELECT qlabel AS true_label, plabel AS pred_label,
        | CAST(count(*) AS BIGINT) AS n
        |FROM pred GROUP BY 1, 2""".stripMargin,
    "q225_spearman" ->
      """WITH base AS (
        | SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
        | FROM lineitem),
        |xr AS (SELECT g, x AS v, CAST(count(*) AS BIGINT) AS t
        |       FROM base GROUP BY g, x),
        |xc AS (SELECT g, v, t,
        |  CAST(sum(t) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
        | FROM xr),
        |xm AS (SELECT g, v, 2 * cum - t + 1 AS r2 FROM xc),
        |yr AS (SELECT g, y AS v, CAST(count(*) AS BIGINT) AS t
        |       FROM base GROUP BY g, y),
        |yc AS (SELECT g, v, t,
        |  CAST(sum(t) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
        | FROM yr),
        |ym AS (SELECT g, v, 2 * cum - t + 1 AS r2 FROM yc),
        |j AS (
        | SELECT b.g, xm.r2 AS rx, ym.r2 AS ry
        | FROM base b JOIN xm ON b.g = xm.g AND b.x = xm.v
        |             JOIN ym ON b.g = ym.g AND b.y = ym.v),
        |s AS (
        | SELECT g, CAST(count(*) AS HUGEINT) AS n,
        |  CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
        |  CAST(sum(rx * ry) AS HUGEINT) AS sxy,
        |  CAST(sum(rx * rx) AS HUGEINT) AS sxx,
        |  CAST(sum(ry * ry) AS HUGEINT) AS syy
        | FROM j GROUP BY g)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        | round(CAST(n * sxy - sx * sy AS DOUBLE)
        |  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman
        |FROM s""".stripMargin,
    "q226_mi_features" ->
      """WITH w AS (
        | SELECT DISTINCT doc_id, source,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS b
        | FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |       FROM documents) t),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS nsrc
        |       FROM documents GROUP BY source),
        |pres AS (SELECT b, source, CAST(count(*) AS BIGINT) AS cp
        |         FROM w GROUP BY b, source),
        |cb AS (SELECT b, CAST(sum(cp) AS BIGINT) AS cb FROM pres GROUP BY b),
        |grid AS (
        | SELECT cb.b, ns.source, ns.nsrc, cb.cb, coalesce(p.cp, 0) AS c, nd.n
        | FROM cb CROSS JOIN ns
        | LEFT JOIN pres p ON p.b = cb.b AND p.source = ns.source, nd),
        |terms AS (
        | SELECT b,
        |  CAST(round(CASE WHEN c > 0 THEN
        |    CAST(c AS DOUBLE) / n * ln(CAST(c AS DOUBLE) * n
        |      / (CAST(cb AS DOUBLE) * nsrc)) ELSE 0.0 END * 1000000)
        |   AS BIGINT)
        |  + CAST(round(CASE WHEN nsrc - c > 0 THEN
        |     CAST(nsrc - c AS DOUBLE) / n * ln(CAST(nsrc - c AS DOUBLE) * n
        |       / (CAST(n - cb AS DOUBLE) * nsrc)) ELSE 0.0 END * 1000000)
        |    AS BIGINT) AS micro
        | FROM grid)
        |SELECT bucket, mi FROM (
        | SELECT b AS bucket,
        |  round(CAST(sum(micro) AS DOUBLE) / 1000000, 6) AS mi
        | FROM terms GROUP BY b) m
        |QUALIFY row_number() OVER (ORDER BY mi DESC, bucket) <= 20""".stripMargin,
    "q227_media_energy" ->
      """WITH f AS (
        | SELECT doc_id AS media_id,
        |  CAST(floor(len(text) / 32) AS INT) AS n_frames,
        |  unnest(range(0, CAST(floor(len(text) / 32) AS BIGINT))) AS frame_idx,
        |  text
        | FROM documents WHERE len(text) >= 32),
        |fr AS (
        | SELECT media_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
        |  substr(text, CAST(frame_idx * 32 + 1 AS INT), 32) AS ft
        | FROM f),
        |e AS (
        | SELECT media_id, n_frames, frame_idx,
        |  CAST(list_reduce(list_transform(range(1, 33),
        |    i -> unicode(substr(ft, CAST(i AS INT), 1))
        |       * unicode(substr(ft, CAST(i AS INT), 1))), (a, x) -> a + x)
        |   AS BIGINT) AS e2
        | FROM fr)
        |SELECT media_id, n_frames, frame_idx, e2, e2 > 320000 AS active
        |FROM e""".stripMargin,
    "q228_stream_upsert" ->
      """SELECT user_id, last_tsu, last_event_id, last_event_type, last_value
        |FROM (
        | SELECT user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS last_tsu,
        |  event_id AS last_event_id,
        |  event_type AS last_event_type,
        |  value AS last_value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1""".stripMargin,
    "q229_ndcg" ->
      """WITH p AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM p GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, count(*) AS dl FROM p GROUP BY doc_id),
        |s AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |  CAST((SELECT count(*) FROM p) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM p
        |       WHERE token IN ('vector', 'join', 'scan') GROUP BY token),
        |sc AS (
        | SELECT tf.doc_id,
        |  round(sum(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |    (CAST(tf AS DOUBLE) * (1.2::DOUBLE + 1.0)
        |      / (tf + 1.2::DOUBLE * (0.25 + 0.75::DOUBLE * dl / avgdl)))), 4) AS score
        | FROM tf JOIN df ON tf.token = df.token
        |  JOIN dl ON tf.doc_id = dl.doc_id, s
        | GROUP BY tf.doc_id),
        |r AS (SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        | FROM sc),
        |rel AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS rel FROM (
        |  SELECT DISTINCT doc_id, token FROM p
        |  WHERE token IN ('vector', 'join', 'scan')) t
        | GROUP BY doc_id),
        |cuts AS (SELECT unnest([1, 5, 10]) AS k),
        |sysg AS (
        | SELECT r.rnk, coalesce(rel.rel, 0) AS rel,
        |  CAST(round((power(2.0, CAST(coalesce(rel.rel, 0) AS DOUBLE)) - 1.0)
        |    / (ln(CAST(r.rnk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000)
        |   AS BIGINT) AS g
        | FROM r LEFT JOIN rel ON r.doc_id = rel.doc_id WHERE r.rnk <= 10),
        |sysd AS (
        | SELECT k, CAST(sum(g) AS BIGINT) AS dcg_micro
        | FROM sysg JOIN cuts ON sysg.rnk <= cuts.k GROUP BY k),
        |ideal AS (
        | SELECT rel, CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
        |   AS BIGINT) AS rnk
        | FROM rel QUALIFY rnk <= 10),
        |idealg AS (
        | SELECT rnk,
        |  CAST(round((power(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |    / (ln(CAST(rnk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000)
        |   AS BIGINT) AS g
        | FROM ideal),
        |ideald AS (
        | SELECT k, CAST(sum(g) AS BIGINT) AS idcg_micro
        | FROM idealg JOIN cuts ON idealg.rnk <= cuts.k GROUP BY k)
        |SELECT sysd.k, dcg_micro, idcg_micro,
        | round(CAST(dcg_micro AS DOUBLE) / idcg_micro, 6) AS ndcg
        |FROM sysd JOIN ideald ON sysd.k = ideald.k""".stripMargin,
    "q230_ann_recall" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |n AS (
        | SELECT vec_id, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
        | FROM e),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv, nrm AS nn FROM n
        |      WHERE vec_id >= 50),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
        |      WHERE vec_id < 50),
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
        |pr AS (
        | SELECT query_id, qv, qn, cent_id AS cell FROM (
        |  SELECT q.query_id, q.qv, q.qn, cent.cent_id,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |     (list_reduce(list_transform(list_zip(q.qv, cent.cv), z -> z[1] * z[2]),
        |        (x, y) -> x + y) / (q.qn * cent.cn)) DESC,
        |     cent.cent_id ASC) AS rn
        |  FROM q CROSS JOIN cent) WHERE rn <= 4),
        |ivf AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |   row_number() OVER (PARTITION BY query_id ORDER BY
        |    (list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]),
        |       (x, y) -> x + y) / (qn * nn)) DESC, neighbor_id) AS rnk
        |  FROM pr JOIN asg USING (cell)) t WHERE rnk <= 10),
        |exact AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT q.query_id, c.neighbor_id,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |    (list_reduce(list_transform(list_zip(q.qv, c.nv), z -> z[1] * z[2]),
        |       (x, y) -> x + y) / (q.qn * c.nn)) DESC, c.neighbor_id) AS rnk
        |  FROM q CROSS JOIN c) t WHERE rnk <= 10),
        |hits AS (
        | SELECT e.query_id, CAST(count(*) AS BIGINT) AS h
        | FROM exact e JOIN ivf i
        |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        | GROUP BY e.query_id)
        |SELECT q.query_id, coalesce(h, 0) AS n_hits,
        | round(CAST(coalesce(h, 0) AS DOUBLE) / 10.0, 4) AS recall
        |FROM q LEFT JOIN hits ON q.query_id = hits.query_id""".stripMargin,
    "q231_attribution" ->
      """WITH ev AS (
        | SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS tsu
        | FROM events),
        |p AS (SELECT event_id AS pid, user_id, tsu AS ptsu FROM ev
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, user_id, tsu AS ctsu FROM ev
        |      WHERE event_type = 'click'),
        |j AS (
        | SELECT p.pid, c.cid, c.ctsu FROM p JOIN c
        |  ON p.user_id = c.user_id
        |   AND c.ctsu <= p.ptsu AND c.ctsu >= p.ptsu - 3600000000),
        |f AS (SELECT pid, cid AS first_click_id FROM (
        |  SELECT pid, cid,
        |   row_number() OVER (PARTITION BY pid ORDER BY ctsu, cid) AS rn
        |  FROM j) t WHERE rn = 1),
        |l AS (SELECT pid, cid AS last_click_id FROM (
        |  SELECT pid, cid,
        |   row_number() OVER (PARTITION BY pid ORDER BY ctsu DESC, cid DESC)
        |    AS rn
        |  FROM j) t WHERE rn = 1),
        |n AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_clicks
        |      FROM j GROUP BY pid)
        |SELECT p.pid, coalesce(n.n_clicks, 0) AS n_clicks,
        | f.first_click_id, l.last_click_id
        |FROM p LEFT JOIN n USING (pid) LEFT JOIN f USING (pid)
        | LEFT JOIN l USING (pid)""".stripMargin,
    "q232_dedup_threshold_sweep" ->
      """WITH RECURSIVE toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(
        |   list_transform(range(1, greatest(len(t) - 1, 1) + 1),
        |     i -> array_to_string(t[i : i + 1], ' '))) AS s
        | FROM toks),
        |jp AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |th AS (SELECT unnest([0.3::DOUBLE, 0.5::DOUBLE, 0.7::DOUBLE]) AS thr),
        |e AS (SELECT thr, ia AS a, ib AS b FROM jp JOIN th ON jac >= thr
        |      UNION ALL SELECT thr, ib, ia FROM jp JOIN th ON jac >= thr),
        |cc(thr, node, label) AS (
        | SELECT th.thr, doc_id, doc_id FROM documents, th
        | UNION
        | SELECT e.thr, e.a, cc.label FROM e
        |  JOIN cc ON cc.thr = e.thr AND cc.node = e.b
        | WHERE cc.label < e.a),
        |comp AS (SELECT thr, node, min(label) AS cid FROM cc GROUP BY thr, node),
        |sz AS (SELECT thr, cid, count(*) AS csize FROM comp GROUP BY thr, cid)
        |SELECT thr AS threshold, CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(sum(CASE WHEN csize > 1 THEN csize ELSE 0 END) AS BIGINT)
        |   AS n_dup_docs,
        | round(CAST(sum(CASE WHEN csize > 1 THEN csize ELSE 0 END) AS DOUBLE)
        |   / sum(csize), 4) AS dup_rate
        |FROM sz GROUP BY thr""".stripMargin,
    "q233_ivf_recall_curve" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |n AS (
        | SELECT vec_id, v,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
        | FROM e),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv, nrm AS nn FROM n
        |      WHERE vec_id >= 50),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
        |      WHERE vec_id < 50),
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
        |pr AS (
        | SELECT query_id, qv, qn, cent_id AS cell, rn FROM (
        |  SELECT q.query_id, q.qv, q.qn, cent.cent_id,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |     (list_reduce(list_transform(list_zip(q.qv, cent.cv), z -> z[1] * z[2]),
        |        (x, y) -> x + y) / (q.qn * cent.cn)) DESC,
        |     cent.cent_id ASC) AS rn
        |  FROM q CROSS JOIN cent) WHERE rn <= 8),
        |np AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
        |ivf AS (
        | SELECT n_probe, query_id, neighbor_id FROM (
        |  SELECT np.n_probe, pr.query_id, asg.neighbor_id,
        |   row_number() OVER (PARTITION BY np.n_probe, pr.query_id ORDER BY
        |    (list_reduce(list_transform(list_zip(pr.qv, asg.nv), z -> z[1] * z[2]),
        |       (x, y) -> x + y) / (pr.qn * asg.nn)) DESC, asg.neighbor_id) AS rnk
        |  FROM pr JOIN asg USING (cell) JOIN np ON pr.rn <= np.n_probe) t
        | WHERE rnk <= 10),
        |exact AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT q.query_id, c.neighbor_id,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |    (list_reduce(list_transform(list_zip(q.qv, c.nv), z -> z[1] * z[2]),
        |       (x, y) -> x + y) / (q.qn * c.nn)) DESC, c.neighbor_id) AS rnk
        |  FROM q CROSS JOIN c) t WHERE rnk <= 10),
        |hits AS (
        | SELECT i.n_probe, e.query_id, CAST(count(*) AS BIGINT) AS h
        | FROM exact e JOIN ivf i
        |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        | GROUP BY 1, 2),
        |grid AS (SELECT np.n_probe, q.query_id FROM np, q),
        |per AS (
        | SELECT g.n_probe, g.query_id, coalesce(h, 0) AS h
        | FROM grid g LEFT JOIN hits
        |  ON g.n_probe = hits.n_probe AND g.query_id = hits.query_id)
        |SELECT n_probe, CAST(sum(h) AS BIGINT) AS total_hits,
        | round(CAST(sum(h) AS DOUBLE) / (count(*) * 10), 4) AS mean_recall
        |FROM per GROUP BY n_probe""".stripMargin,
    "q234_lsh_band_curve" ->
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
        |cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4)) c(bands, rpb)),
        |banded AS (
        | SELECT cfg.bands, cfg.rpb, doc_id, r.b AS band,
        |  sig[cfg.rpb * r.b + 1 : cfg.rpb * r.b + cfg.rpb] AS band_key, sig
        | FROM sig, cfg, range(16) r(b)
        | WHERE r.b < cfg.bands),
        |cand AS (
        | SELECT DISTINCT a.bands, a.rpb, a.doc_id AS id_a, b.doc_id AS id_b,
        |  list_sum(list_transform(range(16), i ->
        |    CASE WHEN a.sig[i + 1] = b.sig[i + 1] THEN 1 ELSE 0 END)) / 16.0 AS est
        | FROM banded a JOIN banded b
        |   ON a.bands = b.bands AND a.rpb = b.rpb AND a.band = b.band
        |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |pred AS (SELECT bands, rpb, id_a, id_b FROM cand WHERE est >= 0.5),
        |shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
        |truth AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM shd a JOIN shd b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |truthx AS (SELECT cfg.bands, cfg.rpb, truth.id_a, truth.id_b
        |           FROM truth, cfg),
        |j AS (
        | SELECT coalesce(p.bands, t.bands) AS bands,
        |  coalesce(p.rpb, t.rpb) AS rpb,
        |  p.id_a IS NOT NULL AS isp, t.id_a IS NOT NULL AS ist
        | FROM pred p FULL OUTER JOIN truthx t
        |   ON p.bands = t.bands AND p.rpb = t.rpb
        |    AND p.id_a = t.id_a AND p.id_b = t.id_b)
        |SELECT bands, rpb,
        | CAST(sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        | CAST(sum(CASE WHEN isp AND NOT ist THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        | CAST(sum(CASE WHEN NOT isp AND ist THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        | round(CAST(sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END) AS DOUBLE)
        |  / (sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN isp AND NOT ist THEN 1 ELSE 0 END)), 6) AS prec,
        | round(CAST(sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END) AS DOUBLE)
        |  / (sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN NOT isp AND ist THEN 1 ELSE 0 END)), 6) AS rec
        |FROM j GROUP BY bands, rpb""".stripMargin,
    "q235_ridge_path" -> Models.ridgeOracleSql(
      """SELECT CAST(l_quantity AS DOUBLE) AS f0,
        | CAST(l_discount * 100 AS DOUBLE) AS f1,
        | CAST(l_tax * 100 AS DOUBLE) AS f2,
        | CAST(l_extendedprice / 1000 AS DOUBLE) AS y
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        | AND l_tax IS NOT NULL AND l_extendedprice IS NOT NULL""".stripMargin,
      Seq("l_quantity", "disc_pct", "tax_pct"),
      Seq(0.0, 1.0, 10.0, 100.0), 6),
    "q236_target_encoding" ->
      """WITH o AS (
        | SELECT o_orderkey, o_orderpriority AS cat, o_totalprice AS y
        | FROM orders),
        |s AS (
        | SELECT cat, round(sum(y), 4) AS sc, CAST(count(*) AS BIGINT) AS nc
        | FROM o GROUP BY cat)
        |SELECT o.o_orderkey, o.cat,
        | CASE WHEN s.nc > 1 THEN round((s.sc - o.y) / (s.nc - 1), 4) END
        |  AS loo_enc
        |FROM o JOIN s USING (cat)""".stripMargin,
    "q237_woe_encoding" ->
      """WITH o AS (
        | SELECT o_orderpriority AS cat, o_orderstatus = 'F' AS bad
        | FROM orders),
        |per AS (
        | SELECT cat,
        |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS bad_c,
        |  CAST(sum(CASE WHEN NOT bad THEN 1 ELSE 0 END) AS BIGINT) AS good_c
        | FROM o GROUP BY cat),
        |tot AS (
        | SELECT CAST(sum(bad_c) AS BIGINT) AS bt,
        |  CAST(sum(good_c) AS BIGINT) AS gt FROM per)
        |SELECT cat, bad_c, good_c,
        | round(ln((CAST(bad_c AS DOUBLE) + 0.5) / (CAST(bt AS DOUBLE) + 0.5))
        |  - ln((CAST(good_c AS DOUBLE) + 0.5) / (CAST(gt AS DOUBLE) + 0.5)), 6)
        |  AS woe
        |FROM per, tot""".stripMargin,
    "q238_session_window" ->
      """WITH e AS (
        | SELECT user_id, event_id, value, CAST(epoch_us(ts) AS BIGINT) AS tsu,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS prev_tsu
        | FROM events),
        |s AS (
        | SELECT *, CASE WHEN prev_tsu IS NULL
        |   OR tsu - prev_tsu >= 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM e),
        |x AS (
        | SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
        |   ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |   AS session_seq
        | FROM s)
        |SELECT user_id, CAST(min(tsu) // 1000000 AS BIGINT) AS session_start,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(value), 4) AS session_value
        |FROM x GROUP BY user_id, session_seq""".stripMargin,
    // row encoding mirrors MerkleAudit.tableDigest: per-column md5
    // tokens (null -> '-') concatenated, NOT a '|'-join — delimiter
    // injection and null/empty-string collisions are contract bugs in a
    // byte-identity audit
    "q239_merkle_audit" ->
      """WITH h AS (
        | SELECT md5(
        |   coalesce(md5(CAST(o_orderkey AS VARCHAR)), '-') ||
        |   coalesce(md5(CAST(o_custkey AS VARCHAR)), '-') ||
        |   coalesce(md5(CAST(o_orderstatus AS VARCHAR)), '-') ||
        |   coalesce(md5(CAST(o_orderpriority AS VARCHAR)), '-')) AS h
        | FROM orders),
        |b AS (
        | SELECT substr(h, 1, 2) AS bucket,
        |  md5(string_agg(h, '' ORDER BY h)) AS digest
        | FROM h GROUP BY 1)
        |SELECT bucket, digest FROM b
        |UNION ALL
        |SELECT '__root' AS bucket,
        | md5(string_agg(digest, '' ORDER BY digest)) AS digest
        |FROM b""".stripMargin,
    "q240_groupwise_ols" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | round(covar_pop(l_quantity, l_extendedprice)
        |   / var_pop(l_quantity), 6) AS slope,
        | round(avg(l_extendedprice) - covar_pop(l_quantity, l_extendedprice)
        |   / var_pop(l_quantity) * avg(l_quantity), 6) AS intercept,
        | round(corr(l_quantity, l_extendedprice)
        |   * corr(l_quantity, l_extendedprice), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q241_tpch_q3" ->
      """WITH c AS (
        | SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |o AS (
        | SELECT o_orderkey, o_custkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s
        | FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'),
        |l AS (
        | SELECT l_orderkey, l_extendedprice * (1.0 - l_discount) AS rev
        | FROM lineitem WHERE l_shipdate > TIMESTAMP '1997-07-01'),
        |agg AS (
        | SELECT l_orderkey, o_orderdate_s, round(sum(rev), 4) AS revenue
        | FROM l JOIN o ON l_orderkey = o_orderkey
        |  JOIN c ON o.o_custkey = c.c_custkey
        | GROUP BY l_orderkey, o_orderdate_s)
        |SELECT l_orderkey, o_orderdate_s, revenue FROM (
        | SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey) AS rn
        | FROM agg) t
        |WHERE rn <= 10""".stripMargin,
    "q242_seasonal_mape" ->
      """WITH hourly AS (
        | SELECT event_type,
        |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS a
        | FROM events GROUP BY 1, 2),
        |fc AS (SELECT event_type, h + 86400 AS h, a AS f FROM hourly),
        |j AS (
        | SELECT hourly.event_type,
        |  CAST(round(CAST(abs(hourly.a - fc.f) AS DOUBLE) / hourly.a * 1000000)
        |   AS BIGINT) AS m
        | FROM hourly JOIN fc
        |  ON hourly.event_type = fc.event_type AND hourly.h = fc.h)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        | round(CAST(sum(m) AS DOUBLE) / (count(*) * 1000000), 6) AS mape
        |FROM j GROUP BY event_type""".stripMargin,
    "q243_psi_drift_series" ->
      """WITH binned AS (
        | SELECT CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS wk,
        |  least(CAST(floor(value / 50) AS BIGINT), 9) AS bin
        | FROM events),
        |counts AS (SELECT wk, bin, CAST(count(*) AS BIGINT) AS c
        |           FROM binned GROUP BY wk, bin),
        |totals AS (SELECT wk, CAST(sum(c) AS BIGINT) AS n
        |           FROM counts GROUP BY wk),
        |w0 AS (SELECT min(wk) AS wk0 FROM totals),
        |grid AS (
        | SELECT t.wk, b.bin, t.n, coalesce(c.c, 0) AS c,
        |  (CAST(coalesce(c.c, 0) AS DOUBLE) + 0.5)
        |    / (CAST(t.n AS DOUBLE) + 5.0) AS p
        | FROM totals t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
        | LEFT JOIN counts c ON c.wk = t.wk AND c.bin = b.bin),
        |base AS (
        | SELECT bin, p AS pb FROM grid, w0 WHERE grid.wk = w0.wk0),
        |terms AS (
        | SELECT g.wk,
        |  CAST(round((g.p - base.pb) * ln(g.p / base.pb) * 1000000) AS BIGINT)
        |   AS t
        | FROM grid g JOIN base USING (bin), w0
        | WHERE g.wk <> w0.wk0)
        |SELECT wk, round(CAST(sum(t) AS DOUBLE) / 1000000, 6) AS psi
        |FROM terms GROUP BY wk""".stripMargin,
    "q244_lag_features" ->
      """WITH e AS (
        | SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS tsu,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events WHERE event_type = 'view'),
        |w AS (
        | SELECT event_id, user_id,
        |  lag(cents, 1) OVER win AS l1,
        |  lag(cents, 2) OVER win AS l2,
        |  CAST(sum(cents) OVER (win ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS s3,
        |  CAST(count(*) OVER (win ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n3
        | FROM e
        | WINDOW win AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT event_id, user_id,
        | round(CAST(l1 AS DOUBLE) / 100, 2) AS lag1_value,
        | round(CAST(l2 AS DOUBLE) / 100, 2) AS lag2_value,
        | round(CAST(s3 AS DOUBLE) / n3 / 100, 4) AS r3_mean
        |FROM w""".stripMargin,
    "q245_wow_growth" ->
      """WITH li AS (
        | SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT)
        |   AS cents
        | FROM lineitem),
        |o AS (
        | SELECT o_orderkey, o_custkey,
        |  CAST(floor(epoch(date_trunc('week', o_orderdate))) AS BIGINT) AS wk
        | FROM orders),
        |weekly AS (
        | SELECT n.n_name, o.wk, CAST(sum(li.cents) AS BIGINT) AS rev_cents
        | FROM li JOIN o ON li.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        | GROUP BY n.n_name, o.wk),
        |lagd AS (
        | SELECT n_name, wk, rev_cents,
        |  lag(rev_cents, 1) OVER (PARTITION BY n_name ORDER BY wk) AS prev
        | FROM weekly)
        |SELECT n_name, wk,
        | round(CAST(rev_cents AS DOUBLE) / 100, 2) AS revenue,
        | CASE WHEN prev IS NOT NULL AND prev <> 0 THEN
        |  round(CAST(rev_cents - prev AS DOUBLE) / prev, 6) END AS wow_growth
        |FROM lagd""".stripMargin,
    // degenerate groups (n=1 or zero variance) → NULL sd → NULL z/spike,
    // mirroring the Spark-side guard.
    "q246_count_spikes" ->
      """WITH hourly AS (
        | SELECT event_type,
        |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
        |  CAST(count(*) AS BIGINT) AS a
        | FROM events GROUP BY 1, 2),
        |st AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a) AS BIGINT) AS s1, CAST(sum(a * a) AS BIGINT) AS s2
        | FROM hourly GROUP BY event_type),
        |sd AS (
        | SELECT event_type, n, s1,
        |  CASE WHEN n > 1 AND
        |   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) > 0
        |  THEN sqrt(
        |   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
        |  END AS sd
        | FROM st)
        |SELECT h.event_type, h.h, h.a,
        | round((h.a - CAST(s1 AS DOUBLE) / n) / sd, 4) AS z,
        | (h.a - CAST(s1 AS DOUBLE) / n) / sd > 3.0 AS spike
        |FROM hourly h JOIN sd USING (event_type)""".stripMargin,
    "q247_token_budget" ->
      """WITH docs AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        | FROM documents),
        |pv AS (SELECT toks, CAST(sum(toks) AS BIGINT) AS vt
        |       FROM docs GROUP BY toks),
        |offs AS (
        | SELECT toks, CAST(coalesce(sum(vt) OVER (ORDER BY toks DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS bef
        | FROM pv),
        |ranked AS (
        | SELECT d.doc_id, d.source, d.toks,
        |  CAST(sum(d.toks) OVER (PARTITION BY d.toks ORDER BY d.doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run,
        |  o.bef
        | FROM docs d JOIN offs o USING (toks))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(sum(toks) AS BIGINT) AS tokens_kept
        |FROM ranked WHERE bef + run <= 25000
        |GROUP BY source""".stripMargin,
    "q248_negative_sampling" ->
      """WITH e AS (SELECT vec_id, label FROM embeddings),
        |n AS (SELECT count(*) AS n FROM e),
        |trials AS (
        | SELECT e.vec_id, e.label, r.t,
        |  CAST(concat('0x', substr(md5('neg_' || e.vec_id || '_' || r.t),
        |    1, 8)) AS BIGINT) % n.n AS cand
        | FROM e, (SELECT unnest(range(0, 8)) AS t) r, n),
        |ok AS (
        | SELECT tr.vec_id, tr.t, tr.cand
        | FROM trials tr JOIN e c ON tr.cand = c.vec_id
        | WHERE c.label <> tr.label AND tr.cand <> tr.vec_id)
        |SELECT vec_id AS anchor_id, cand AS neg_id, rk FROM (
        | SELECT vec_id, cand,
        |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY t) AS INT)
        |   AS rk
        | FROM ok) x
        |WHERE rk <= 4""".stripMargin,
    "q249_stream_append_windows" ->
      """WITH wm AS (
        | SELECT CAST(max(epoch_us(ts)) AS BIGINT) - 3600000000 AS w
        | FROM events),
        |agg AS (
        | SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
        |   AS win_start,
        |  event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  round(sum(value), 4) AS sum_value
        | FROM events GROUP BY 1, 2)
        |SELECT win_start, event_type, cnt, sum_value
        |FROM agg, wm
        |WHERE (win_start + 3600) * 1000000 <= wm.w""".stripMargin,
    "q250_corpus_scorecard" ->
      """WITH d AS (
        | SELECT text, source, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        | FROM documents),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        | FROM d)
        |SELECT n_docs, n_tokens, n_distinct_docs, n_sources, n_langs,
        | round(1.0 - CAST(n_distinct_docs AS DOUBLE) / n_docs, 6) AS dup_rate,
        | round(CAST(n_tokens AS DOUBLE) / n_docs, 4) AS mean_doc_tokens
        |FROM a""".stripMargin,
    // threshold compare is engine-exact: integer-valued quantities make
    // avg exact at any summation order, ·0.2 is one identical product;
    // revenue rides the cents device.
    "q251_small_qty_revenue" ->
      """WITH p AS (
        | SELECT p_partkey AS l_partkey, p_brand FROM part
        | WHERE p_brand IN ('Brand#1', 'Brand#2')),
        |l AS (
        | SELECT li.l_partkey, p_brand, l_quantity, l_extendedprice
        | FROM lineitem li JOIN p USING (l_partkey)),
        |th AS (
        | SELECT l_partkey, avg(l_quantity) * 0.2 AS lim
        | FROM l GROUP BY l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_small,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents
        |FROM l JOIN th USING (l_partkey)
        |WHERE l_quantity < lim
        |GROUP BY p_brand""".stripMargin,
    "q252_sole_late_supplier" ->
      """WITH lines AS (
        | SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        | FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |sup_ord AS (
        | SELECT l_orderkey, l_suppkey,
        |  CAST(max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
        |    THEN 1 ELSE 0 END) AS BIGINT) AS late
        | FROM lines GROUP BY 1, 2),
        |per_order AS (
        | SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
        | FROM sup_ord GROUP BY 1)
        |SELECT so.l_suppkey AS s_suppkey, s_name,
        | CAST(count(*) AS BIGINT) AS numwait
        |FROM sup_ord so
        |JOIN per_order po ON po.l_orderkey = so.l_orderkey
        | AND po.n_supp >= 2 AND po.n_late = 1
        |JOIN supplier ON s_suppkey = so.l_suppkey
        |WHERE so.late = 1
        |GROUP BY 1, 2""".stripMargin,
    "q253_referential_audit" ->
      """SELECT 'fk_lineitem_orders' AS "check",
        | CAST(sum(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        | CAST(count(*) AS BIGINT) AS n_checked
        |FROM lineitem LEFT JOIN
        | (SELECT DISTINCT o_orderkey AS k FROM orders) o ON o.k = l_orderkey
        |UNION ALL
        |SELECT 'fk_lineitem_part',
        | CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM lineitem LEFT JOIN
        | (SELECT DISTINCT p_partkey AS k FROM part) p ON p.k = l_partkey
        |UNION ALL
        |SELECT 'fk_lineitem_supplier',
        | CAST(sum(CASE WHEN sp.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM lineitem LEFT JOIN
        | (SELECT DISTINCT s_suppkey AS k FROM supplier) sp ON sp.k = l_suppkey
        |UNION ALL
        |SELECT 'fk_orders_customer',
        | CAST(sum(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM orders LEFT JOIN
        | (SELECT DISTINCT c_custkey AS k FROM customer) c ON c.k = o_custkey
        |UNION ALL
        |SELECT 'fk_customer_nation',
        | CAST(sum(CASE WHEN n.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM customer LEFT JOIN
        | (SELECT DISTINCT n_nationkey AS k FROM nation) n ON n.k = c_nationkey
        |UNION ALL
        |SELECT 'fk_supplier_nation',
        | CAST(sum(CASE WHEN n.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM supplier LEFT JOIN
        | (SELECT DISTINCT n_nationkey AS k FROM nation) n ON n.k = s_nationkey
        |UNION ALL
        |SELECT 'fk_nation_region',
        | CAST(sum(CASE WHEN r.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM nation LEFT JOIN
        | (SELECT DISTINCT r_regionkey AS k FROM region) r ON r.k = n_regionkey
        |UNION ALL
        |SELECT 'pk_orders',
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'pk_customer',
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM customer GROUP BY c_custkey)
        |UNION ALL
        |SELECT 'pk_part',
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM part GROUP BY p_partkey)
        |UNION ALL
        |SELECT 'pk_supplier',
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM supplier GROUP BY s_suppkey)
        |UNION ALL
        |SELECT 'pk_nation',
        | CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(*) AS BIGINT)
        |FROM (SELECT count(*) AS c FROM nation GROUP BY n_nationkey)""".stripMargin,
    // plants mirror the Spark side byte for byte; detection is instr on
    // the planted markers (codepoint search, engine-identical).
    "q254_mojibake_scan" ->
      """WITH planted AS (
        | SELECT source, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' cafÃ©'
        |       WHEN doc_id % 7 = 1 THEN ' itâ€™s'
        |       WHEN doc_id % 7 = 2 THEN ' bad�byte'
        |       WHEN doc_id % 7 = 3 THEN ' ring' || chr(7) || 'tone'
        |       WHEN doc_id % 7 = 4 THEN ' non' || chr(160) || 'break'
        |       ELSE '' END AS text2
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN instr(text2, 'Ã') > 0
        |   OR instr(text2, 'â€') > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_mojibake,
        | CAST(sum(CASE WHEN instr(text2, '�') > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_replacement,
        | CAST(sum(CASE WHEN instr(text2, chr(7)) > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_control,
        | CAST(sum(CASE WHEN instr(text2, chr(160)) > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nbsp,
        | round(1.0 - CAST(
        |   sum(CASE WHEN instr(text2, 'Ã') > 0
        |     OR instr(text2, 'â€') > 0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN instr(text2, '�') > 0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN instr(text2, chr(7)) > 0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN instr(text2, chr(160)) > 0 THEN 1 ELSE 0 END)
        |  AS DOUBLE) / count(*), 4) AS clean_rate
        |FROM planted GROUP BY source""".stripMargin,
    "q255_padding_efficiency" ->
      """WITH docs AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        | FROM documents),
        |ranked AS (
        | SELECT source, toks,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY toks DESC, doc_id) AS rs,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5('pad_' || doc_id), doc_id) AS rh
        | FROM docs),
        |b AS (
        | SELECT source, 'sorted' AS strategy, (rs - 1) // 16 AS b,
        |  count(*) AS n, max(toks) AS mx, sum(toks) AS s
        | FROM ranked GROUP BY 1, 2, 3
        | UNION ALL
        | SELECT source, 'hashed' AS strategy, (rh - 1) // 16 AS b,
        |  count(*) AS n, max(toks) AS mx, sum(toks) AS s
        | FROM ranked GROUP BY 1, 2, 3)
        |SELECT source, strategy, CAST(count(*) AS BIGINT) AS n_batches,
        | CAST(sum(s) AS BIGINT) AS tokens,
        | CAST(sum(mx * n) AS BIGINT) AS padded,
        | round(CAST(sum(mx * n) - sum(s) AS DOUBLE) / sum(mx * n), 4)
        |   AS waste_rate
        |FROM b GROUP BY 1, 2""".stripMargin,
    // the window prefix sum here is the oracle's shortcut; the Spark side
    // uses the two-phase decomposition — values identical by design. All
    // integer arithmetic, mirrored clamp for clamp.
    "q256_systematic_pps" ->
      """WITH w AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS weight
        | FROM documents
        | WHERE len(string_split(text, ' ')) > 0),
        |c AS (
        | SELECT doc_id, weight,
        |  CAST(coalesce(sum(weight) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS cum_before,
        |  CAST(sum(weight) OVER () AS BIGINT) AS W
        | FROM w),
        |k AS (
        | SELECT doc_id, weight,
        |  greatest((200 * cum_before + W - 1) // W, 1) AS mlo,
        |  least(((200 * (cum_before + weight) + W - 1) // W) - 1, 199)
        |    AS mhi
        | FROM c)
        |SELECT doc_id, weight,
        | CAST(greatest(((mhi + 1) // 2) - (mlo // 2), 0) AS BIGINT)
        |   AS copies
        |FROM k
        |WHERE ((mhi + 1) // 2) - (mlo // 2) > 0""".stripMargin,
    "q257_quality_sweep" ->
      """WITH scored AS (
        | SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |  CASE WHEN length(text) > 0 THEN
        |   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |     AS DOUBLE) / length(text) ELSE 0.0 END AS score
        | FROM documents),
        |x AS (
        | SELECT toks, score, t.threshold
        | FROM scored CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.6::DOUBLE,
        |   0.7::DOUBLE, 0.8::DOUBLE, 0.9::DOUBLE]) AS threshold) t)
        |SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_keep,
        | CAST(sum(CASE WHEN score >= threshold THEN toks ELSE 0 END)
        |   AS BIGINT) AS tokens_kept,
        | round(CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 4) AS keep_rate
        |FROM x GROUP BY threshold""".stripMargin,
    // floor(log2) as binary-string length — zero float seam (log2()
    // flips at exact powers of two).
    "q258_length_log_histogram" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        | FROM documents),
        |b AS (
        | SELECT source, toks,
        |  CAST(length(printf('%b', toks)) - 1 AS BIGINT) AS bucket
        | FROM d)
        |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS tokens,
        | CAST(1::BIGINT << CAST(bucket AS INT) AS BIGINT) AS lo,
        | CAST((1::BIGINT << CAST(bucket AS INT)) * 2 - 1 AS BIGINT) AS hi
        |FROM b GROUP BY source, bucket""".stripMargin,
    "q259_export_manifest" ->
      """WITH d AS (
        | SELECT doc_id, text,
        |  CAST(CAST(concat('0x', substr(md5('shard_' || doc_id), 1, 4))
        |    AS BIGINT) % 16 AS BIGINT) AS shard,
        |  CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
        |    AS BIGINT) AS fp
        | FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(length(text)) AS BIGINT) AS bytes,
        | CAST(min(doc_id) AS BIGINT) AS min_id,
        | CAST(max(doc_id) AS BIGINT) AS max_id,
        | CAST(bit_xor(fp) AS BIGINT) AS digest
        |FROM d GROUP BY shard""".stripMargin,
    // latest-wins by the exact (tsu, event_id) total order; a key whose
    // final version is the tombstone ('error') drops out.
    "q260_cdc_snapshot" ->
      """WITH e AS (
        | SELECT event_id, user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS tsu
        | FROM events),
        |r AS (
        | SELECT user_id, event_id, event_type, tsu,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY tsu DESC, event_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_changes
        | FROM e)
        |SELECT user_id, event_id AS last_event_id, tsu AS last_tsu,
        | CAST(n_changes AS BIGINT) AS n_changes
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // canonical string encoding mirrored column for column; binary
    // collation on both engines makes min/max comparable.
    "q261_analyze_columns" ->
      """WITH u AS (
        | SELECT 'o_orderkey' AS "column",
        |  CAST(o_orderkey AS VARCHAR) AS value FROM orders
        | UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
        |  FROM orders
        | UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        | UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        | UNION ALL SELECT 'o_totalprice_cents',
        |  CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
        |  FROM orders
        | UNION ALL SELECT 'o_orderdate_us',
        |  CAST(CAST(epoch_us(o_orderdate) AS BIGINT) AS VARCHAR)
        |  FROM orders)
        |SELECT "column", CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_null,
        | CAST(count(DISTINCT value) AS BIGINT) AS ndv,
        | min(value) AS min_value, max(value) AS max_value,
        | round(avg(length(value)), 4) AS avg_len
        |FROM u GROUP BY "column"""".stripMargin
  )
}
