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

/** Queries q183–q221 (39 entries) — retrieval eval (ANN recall, kNN eval), chunking, cluster profiles,
  * leakage folds, sampling and calibration shapes.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart4 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // DSIR importance weights (Xie et al. 2023): score every doc by the
    // add-1-smoothed unigram log importance ratio of the src0 slice vs
    // the whole corpus; top-100 by (weight desc, doc_id) selected via a
    // TakeOrdered boundary key — no global sort (see text/Dsir).
    "q183_dsir_weights" -> ((s, d) =>
      graft.text.Dsir.importanceWeights(doc(s, d), "text", "doc_id",
        col("source") === "src0", topK = 100)),
    // CCNet head/middle/tail LM-quality terciles (Wenzek et al. 2020)
    // over the in-corpus unigram LM score; keep = not tail (see
    // text/LmQuality for the sample-the-thresholds scale path).
    "q184_ccnet_buckets" -> ((s, d) =>
      graft.text.LmQuality.ccnetBuckets(doc(s, d), "text", "doc_id")),
    // PII redaction sweep (emails → IPv4 → phone-shaped, in that fixed
    // order): the corpus carries no PII, so a deterministic per-doc
    // augmentation plants one known item per doc_id%5 class first — the
    // redactor then has real positives to find, and the per-class match
    // counts are exact integers. Pure per-row regex: zero shuffle.
    "q185_pii_redact" -> ((s, d) => {
      val planted = doc(s, d).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .when(col("doc_id") % 5 === 1,
            concat(lit(" call 555-"),
              lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0"),
              lit(" today")))
          .when(col("doc_id") % 5 === 2,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
              lit("."), (col("doc_id") * 3 % 256).cast("string"),
              lit("."), (col("doc_id") * 7 % 256).cast("string"), lit(" logged")))
          .otherwise(lit(""))).as("text2"))
      planted.select(col("doc_id"),
        graft.text.Pii.matches(col("text2"), graft.text.Pii.EmailRe).cast("long")
          .as("n_emails"),
        graft.text.Pii.matches(col("text2"), graft.text.Pii.Ipv4Re).cast("long")
          .as("n_ips"),
        graft.text.Pii.matches(
          regexp_replace(regexp_replace(col("text2"),
            graft.text.Pii.EmailRe, "[EMAIL]"), graft.text.Pii.Ipv4Re, "[IP]"),
          graft.text.Pii.PhoneRe).cast("long").as("n_phones"),
        graft.text.Pii.redact(col("text2")).as("redacted"))
    }),
    // Product-quantization ANN (Jégou et al. 2011): 4 independent
    // 16-codeword codebooks over 16-dim blocks (the q105 replayable
    // Lloyd's per block), corpus encoded + ADC-scored against probe
    // vec_id 0 in ONE shuffle-free projection (codebooks and the
    // per-probe code→distance LUT are literals); top-10 by (adc, id)
    // via TakeOrdered. The 64-float → 4-code compression is the
    // memory-bound similarity path at 100 TB (see ml/ProductQuantizer).
    "q186_pq_topk" -> ((s, d) =>
      graft.ml.ProductQuantizer.adcTopK(Tables.embeddings(s, d),
        "vec_id", "embedding", blocks = 4, codebookSize = 16, iters = 2,
        probeId = 0L, topK = 10)),
    // Mergeable-sketch rollup — THE 100 TB distinct-count architecture:
    // per-source Datasketches HLL over the word stream (one partial-agg
    // shuffle), then the GLOBAL vocabulary estimated by UNIONING the
    // per-source sketches (hll_union_agg over |sources| rows) instead of
    // re-scanning the corpus. Estimates are engine-internal, so the
    // oracle-checked surface is exact counts + the error-bound booleans
    // (lgK=14 ⇒ ~0.8 % rse against a 5 % gate; the q40 device). The
    // 'ALL' row's exact count needs its own corpus-wide distinct — the
    // very scan the sketch union avoids; it is the verification cost,
    // not the operator cost.
    "q187_hll_rollup" -> ((s, d) => {
      val toks = doc(s, d).select(col("source"),
        explode(Text.tokens(col("text"))).as("w"))
      val per = toks.groupBy("source").agg(
        hll_sketch_agg(col("w"), lit(14)).as("__sk"),
        countDistinct(col("w")).as("exact_words"))
      val perOut = per.select(col("source"), col("exact_words"),
        (abs(hll_sketch_estimate(col("__sk")) - col("exact_words")) <=
          col("exact_words").cast("double") * 0.05).as("est_ok"))
      val globExact = toks.agg(countDistinct(col("w")).as("exact_words"))
      val globOut = per.agg(hll_union_agg(col("__sk"), lit(false)).as("__g"))
        .crossJoin(broadcast(globExact))
        .select(lit("ALL").as("source"), col("exact_words"),
          (abs(hll_sketch_estimate(col("__g")) - col("exact_words")) <=
            col("exact_words").cast("double") * 0.05).as("est_ok"))
      perOut.unionByName(globOut)
    }),
    // Directed n-gram containment pairs (Broder's asymmetric companion
    // to resemblance): |A∩B|/|A| ≥ 0.8 catches a short doc quoted inside
    // a long one, which Jaccard structurally misses. Prefix-filtered
    // overlap join with recall 1.0 — see Dedup.containmentPairs.
    "q188_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(doc(s, d), "text", "doc_id",
        k = 3, threshold = 0.8)),
    // Marginal n-gram novelty per source in fixed ingest order — the
    // diminishing-returns curve behind data-mixing decisions ("what does
    // adding source N contribute that sources 0..N−1 didn't?"). One
    // postings agg for each gram's FIRST source rank + one per-source
    // distinct count; no pairwise source comparison (q175's matrix is
    // the pairwise view; this is the cumulative one).
    "q189_source_novelty" -> ((s, d) => {
      val g = doc(s, d)
        .select(substring(col("source"), 4, 10).cast("long").as("srank"),
          Text.tokens(col("text")).as("__toks"))
        .select(col("srank"),
          explode(Text.ngramsFromTokens(col("__toks"), 3)).as("gram"))
      val first = g.groupBy("gram").agg(min(col("srank")).as("first_rank"))
        .groupBy("first_rank").agg(count(lit(1)).as("novel"))
      val tot = g.select(col("srank"), col("gram")).distinct()
        .groupBy("srank").agg(count(lit(1)).as("distinct_grams"))
      tot.join(first, col("srank") === col("first_rank"), "left")
        .select(col("srank").as("source_rank"),
          concat(lit("src"), col("srank")).as("source"),
          col("distinct_grams"),
          coalesce(col("novel"), lit(0L)).as("novel_grams"),
          round(coalesce(col("novel"), lit(0L)).cast("double") /
            col("distinct_grams"), 6).as("novelty"))
    }),
    // Leakage-safe k-fold assignment: the split unit is the NEAR-DUP
    // CLUSTER (q70's exact connected components), not the document — a
    // near-duplicate pair split across train/eval folds is exactly the
    // contamination ExactSubstr-style dedup exists to prevent. Fold =
    // deterministic md5-uniform of the canonical id (the q103 device),
    // so every member of a cluster lands in the same fold by
    // construction.
    "q190_leakage_folds" -> ((s, d) => {
      val canon = Dedup.canonicalizeExact(doc(s, d), "text", "doc_id",
        k = 2, jaccardThreshold = 0.5)
      canon.select(col("doc_id"), col("canonical_id"),
        (conv(substring(md5(col("canonical_id").cast("string")), 1, 8),
          16, 10).cast("long") % 5).as("fold"))
    }),
    // Mann-Whitney U rank-sum test: is src1's length distribution shifted
    // vs src0's, assuming nothing about its shape? The nonparametric
    // third leg of the two-sample family (q145 Welch t = means under
    // normality, q148 KS = any distributional difference, q191 = location
    // shift, distribution-free). See stats/Stats.mannWhitneyU for the
    // distinct-value ranking scale shape.
    "q191_mann_whitney" -> ((s, d) =>
      graft.stats.Stats.mannWhitneyU(doc(s, d), "n_chars", "source",
        "src0", "src1")),
    // Per-doc cross-entropy under the in-corpus add-1 BIGRAM LM — the
    // KenLM-shaped perplexity filter (CCNet/RefinedWeb), one Markov order
    // above q125/q184's unigram score. Postings-shape joins throughout;
    // see text/BigramLm.
    "q192_bigram_ppl" -> ((s, d) =>
      graft.text.BigramLm.perDocCrossEntropy(doc(s, d), "text", "doc_id")),
    // Token-balanced output sharding: snake-pack every doc into 8 shards
    // by token count so per-shard TOKEN totals are equal-cost training
    // files. Global rank via PrefixSum (never a corpus window) — see
    // operators/Sharding. Output is the per-shard manifest
    // the writer would fan out on.
    "q193_balanced_shards" -> ((s, d) =>
      graft.operators.Sharding.snakeShards(doc(s, d), "doc_id",
        graft.text.Text.tokenCount(col("text")), nShards = 8)
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(col("weight")).as("total_tokens"))),
    // WIMBD-style corpus audit (Elazar et al. 2024): top-10 3-grams per
    // source by (count desc, gram asc). Map-side-combined gram counts,
    // then the q30 rank-prune — window input is the |source × gram|
    // COUNT table, never the token stream.
    "q194_wimbd_topk" -> ((s, d) => {
      // pre-shuffle by doc id: single-row-group scan serialized the
      // tokenize+3-gram pass on one task (r17)
      val toks = doc(s, d).repartition(nPart(s), col("doc_id"))
        .select(col("source"), Text.tokens(col("text")).as("__toks"))
      val counts = toks.select(col("source"),
        explode(Text.ngramsFromTokens(col("__toks"), 3)).as("gram"))
        .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
      graft.operators.Rankings.topKPerGroup(counts, Seq(col("source")),
        Seq(col("cnt").desc, col("gram").asc), 10)
    }),
    // Per-doc character-level Shannon entropy — the cheapest gibberish /
    // binary-spill / mojibake detector (low-entropy = repeated filler,
    // high-entropy = base64-ish noise). Postings shape: explode chars →
    // per-(doc, char) counts → per-doc fold; H = ln n − Σ c·ln c / n with
    // each c·ln c term in integer micro-nats (the q183 device) so the
    // per-doc sum is exact long arithmetic.
    "q195_char_entropy" -> ((s, d) => {
      // r18 (VERDICT r17 #6): the per-char explode (rows = total corpus
      // characters, then a (doc, char)-keyed hash agg and a per-doc fold)
      // is replaced by the one-pass [[graft.functions.CharEntropyTerms]]
      // kernel — per-doc (n_chars, s6) from a bounded in-row histogram;
      // the whole query is now one narrow projection. Values are exact-
      // equal by construction (same per-char term arithmetic, exact long
      // sums — see the kernel scaladoc; CharEntropyTermsSpec pins parity
      // against the explode formulation). Pre-shuffle by doc id kept: the
      // single-row-group documents file gives ONE scan task and the
      // kernel's CPU is still ~length(text) per row (r17 pinning rule).
      doc(s, d).select(col("doc_id"), col("text"))
        .repartition(nPart(s), col("doc_id"))
        .select(col("doc_id"),
          graft.functions.CharEntropyTerms(col("text")).as("__e"))
        .select(col("doc_id"), col("__e.n_chars").as("n_chars"),
          round(log(col("__e.n_chars").cast("double")) -
            col("__e.s6").cast("double") / lit(1000000) / col("__e.n_chars"), 4)
            .as("h"))
    }),
    // HITS hubs & authorities over the DIRECTED customer→supplier
    // purchase graph — the directed companion to q133's PageRank:
    // broad-basket buyers (hubs) vs widely-bought-from suppliers
    // (authorities), two scores PageRank's single stationary mass
    // conflates. Max-normalized power iteration — see graph/Hits for the
    // order-independent normalization rule.
    "q196_hits" -> ((s, d) => {
      val edges = ord(s, d).select(col("o_orderkey"), col("o_custkey"))
        // measured at sf100 (r16): a shuffled-hash build on the unique
        // orders side trades the lineitem SMJ sort for hash-build CPU and
        // LOSES (wall 223 -> 294 s, cpu +30%, spill only -10%) — the
        // planner's sort-merge is the right construction join here
        .join(li(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      // dedup rides iterate()'s checkpoint repartition(src) for free —
      // no query-level distinct (that would add a full-edge shuffle)
      graft.graph.Hits.iterate(edges, iters = 2)
    }),
    // Gini-Simpson vocabulary diversity per source: 1 − Σ c(c−1)/(n(n−1))
    // — the probability two tokens drawn without replacement differ. The
    // fully-EXACT diversity companion to q174's Zipf slope: every term is
    // integer arithmetic until one final mirrored division, so parity
    // needs no ln/rounding seam at all. One token-count agg + one
    // per-source fold.
    "q197_simpson_diversity" -> ((s, d) => {
      val wc = doc(s, d)
        .select(col("source"), explode(Text.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("source").agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(col("c") * (col("c") - 1)).as("ss"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          round(lit(1.0) - col("ss").cast("double") /
            (col("n_tokens").cast("double") * (col("n_tokens") - 1)), 6)
            .as("simpson"))
    }),
    // Pairwise Jensen-Shannon divergence between source unigram
    // distributions — the SYMMETRIC, bounded ([0, ln 2]) companion to
    // q180's KL drift, the standard "how far apart are these two
    // corpora" mixing diagnostic. Only the SHARED-vocab inner join is
    // computed; exclusive-word mass contributes exactly ln 2 · (1−Σp) and
    // rides the same aggregate (m = (p+q)/2 with q = 0 ⇒ term = p·ln 2),
    // so no per-pair full-outer join ever materializes. Postings shape:
    // per word, |sources(word)|² pair rows — bounded by |sources|².
    "q198_source_jsd" -> ((s, d) => {
      val words = doc(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
      val sc = words.groupBy("source", "word").agg(count(lit(1)).as("c"))
      val st = words.groupBy("source").agg(count(lit(1)).as("nt"))
      val p = sc.join(broadcast(st), Seq("source"))
        .select(col("source"), col("word"),
          (col("c").cast("double") / col("nt").cast("double")).as("p"))
      val a = p.select(col("source").as("src_a"), col("word"), col("p").as("pa"))
      val b = p.select(col("source").as("src_b"), col("word"), col("p").as("pb"))
      a.join(b, Seq("word")).filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(
          sum(col("pa") * log(col("pa") * 2 / (col("pa") + col("pb"))) +
            col("pb") * log(col("pb") * 2 / (col("pa") + col("pb")))).as("sh"),
          sum(col("pa")).as("spa"), sum(col("pb")).as("spb"))
        .select(col("src_a"), col("src_b"),
          round((col("sh") + log(lit(2.0)) * (lit(2.0) - col("spa") - col("spb")))
            * lit(0.5), 4).as("jsd"))
    }),
    // Per-doc cross-entropy under interpolated KNESER-NEY (d = 0.75) —
    // the smoothing KenLM actually ships; q192 is the add-1 strawman,
    // this is the production filter. Continuation counts N₁₊ derive from
    // the gram-type TABLE, never the token stream — see
    // text/BigramLm.knPerDocCrossEntropy.
    "q199_kneser_ney_ppl" -> ((s, d) =>
      graft.text.BigramLm.knPerDocCrossEntropy(doc(s, d), "text", "doc_id")),
    // Common-neighbor link prediction on the co-purchase part graph:
    // neighborhood Jaccard for every pair sharing ≥ 2 neighbors
    // (Liben-Nowell & Kleinberg 2003) — "parts bought alongside the same
    // things should be substitutes/complements". Wedge self-join with the
    // hub-degree apex cap (the Σ deg² guard); exact integer counts, one
    // mirrored division. See graph/LinkPrediction.
    "q200_link_prediction" -> ((s, d) =>
      graft.graph.LinkPrediction.jaccardPairs(
        copurchasePairs(s, d).select(col("u"), col("v")),
        minCommon = 2, maxDegree = 1000)),
    // Deterministic random walks (DeepWalk/node2vec sampling, Perozzi
    // 2014): one 3-step walk from every node of the co-purchase graph,
    // next hop = neighbor ranked by the q103 md5-uniform of
    // (walk_id, step, node) mod degree — pseudo-random yet exactly
    // replayable in SQL, the property every "random" op in this engine
    // holds. Per step: one join to the degree table (pure projection
    // after it) + one equi-join on (node, rank) into the rank-indexed
    // adjacency — no RNG state, no driver loop.
    "q201_random_walks" -> ((s, d) => {
      val p = copurchasePairs(s, d)
      // symmetrize in ONE pass (explode, the EdgeLayout device) — the
      // unionAll form ran the support-2 self-join twice before the cut
      val adj = graft.graph.EdgeLayout.symmetrize(p, "u", "v")
        .select(col("src").as("n"), col("dst").as("x"))
      val adjC = graft.io.Checkpoints.truncate(adj, eager = true)
      // adjR and deg are probed by every step; each walk table is read by
      // the next step AND the closing join — truncate all of them so the
      // 3-step unrolled DAG is a linear chain, not a 2^steps replay tree
      val adjR = graft.io.Checkpoints.truncate(
        adjC.withColumn("r",
          row_number().over(Window.partitionBy("n").orderBy("x"))),
        eager = false)
      val deg = graft.io.Checkpoints.truncate(
        adjC.groupBy("n").agg(count(lit(1)).as("deg")), eager = false)
      var walk = deg.select(col("n").as("walk_id"), col("n").as("cur"))
      val steps = (1 to 3).map { i =>
        val pick = walk
          .join(deg.withColumnRenamed("n", "cur"), Seq("cur"))
          .withColumn("pick",
            conv(substring(md5(concat_ws("_",
              col("walk_id"), lit(i), col("cur"))), 1, 8), 16, 10)
              .cast("long") % col("deg") + 1)
        walk = graft.io.Checkpoints.truncate(pick.join(
            adjR.select(col("n").as("cur"), col("r").as("pick"), col("x")),
            Seq("cur", "pick"))
          .select(col("walk_id"), col("x").as("cur")), eager = false)
        walk.select(col("walk_id"), col("cur").as(s"s$i"))
      }
      steps.reduce((a, b) => a.join(b, Seq("walk_id")))
    }),
    // Adamic-Adar link prediction — q200's Jaccard weighted by apex
    // informativeness: a shared neighbor of degree 1000 says ~nothing, a
    // shared niche neighbor says a lot (weight 1/ln deg). Same capped
    // wedge join; the AA sum is the one order-dependent float → round 4.
    "q202_adamic_adar" -> ((s, d) =>
      graft.graph.LinkPrediction.adamicAdar(
        copurchasePairs(s, d).select(col("u"), col("v")),
        minCommon = 2, maxDegree = 1000)),
    // Newman modularity of the q159 label-prop communities — the quality
    // score for ANY community assignment: Q_c = e_c/m − (d_c/2m)². All
    // ingredients exact integers (intra-edge counts, degree sums, m);
    // per-community terms are fixed-order float expressions converted ONCE
    // to integer nano-units (round-to-integer of an identical double is
    // engine-exact — the q93 device), so BOTH the per-community rows and
    // the ALL row's sum are exact longs with no decimal-round seam.
    "q203_modularity" -> ((s, d) => {
      // the support-2 self-join feeds m, intra AND the label-prop edges —
      // truncate once so it is computed once (the PageRank seam)
      val p = graft.io.Checkpoints.truncate(copurchasePairs(s, d), eager = true)
      val edges = p.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(p.select(col("v").as("src"), col("u").as("dst")))
      // lab fans out 3× below (deg join + intra's u- and v-joins): persist
      // the node-cardinality table so the 2-round LabelProp DAG runs once,
      // not three times (the HITS half-step lesson — unmaterialized
      // fan-out replicates the whole upstream subtree per reference).
      // symmetric = true: edges is the two-direction union, so LabelProp's
      // identity-label first round collapses to a plain group-count.
      val lab = graft.io.Checkpoints.truncateLayoutPreserving(
        graft.graph.LabelProp.run(edges, iters = 2, symmetric = true))
      val m = p.agg(count(lit(1)).as("m"))
      val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val dc = lab.join(deg, Seq("node")).groupBy("label")
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
      val intra = p
        .join(lab.select(col("node").as("u"), col("label").as("lu")), Seq("u"))
        .join(lab.select(col("node").as("v"), col("label").as("lv")), Seq("v"))
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_c"))
      val per = dc.join(intra, Seq("label"), "left")
        .crossJoin(broadcast(m))
        .select(col("label"), col("n_nodes"),
          coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"), col("m"))
        .withColumn("__t",
          col("e_c").cast("double") / col("m") -
            (col("d_c").cast("double") / (col("m") * 2)) *
              (col("d_c").cast("double") / (col("m") * 2)))
        .withColumn("__t9", round(col("__t") * 1000000000L).cast("long"))
      val perOut = per.select(col("label"), col("n_nodes"), col("e_c"),
        col("d_c"), col("__t9").as("q_term_nano"))
      val allOut = per.agg(
          sum(col("n_nodes")).as("n_nodes"), sum(col("e_c")).as("e_c"),
          sum(col("d_c")).as("d_c"), sum(col("__t9")).as("q_term_nano"))
        .select(lit(-1L).as("label"), col("n_nodes"), col("e_c"), col("d_c"),
          col("q_term_nano"))
      perOut.unionByName(allOut)
    }),
    // q175's pairwise source overlap on the MERGEABLE-SKETCH path — the
    // 100 TB architecture: per-source HLL sketches of the 3-gram sets
    // (one partial-agg shuffle over the corpus), then every pairwise
    // UNION size estimated by merging two |sketch|-byte sketches —
    // |sources|² sketch ops instead of |sources|² corpus joins. The
    // oracle-checked surface is exact counts + the union-estimate bound
    // boolean (lgK=14 ⇒ ~0.8 % rse vs a 5 % gate — the q40/q187 device);
    // the exact intersection here is the verification cost the sketch
    // path exists to avoid.
    "q204_sketch_overlap" -> ((s, d) => {
      val gdist = doc(s, d)
        .select(col("source"), Text.tokens(col("text")).as("__toks"))
        .select(col("source"),
          explode(Text.ngramsFromTokens(col("__toks"), 3)).as("gram"))
        .distinct()
      val per = gdist.groupBy("source").agg(
        hll_sketch_agg(col("gram"), lit(14)).as("__sk"),
        count(lit(1)).as("sz"))
      val inter = gdist.withColumnRenamed("source", "src_a")
        .join(gdist.withColumnRenamed("source", "src_b"), Seq("gram"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      val a = per.select(col("source").as("src_a"), col("__sk").as("__ska"),
        col("sz").as("na"))
      val b = per.select(col("source").as("src_b"), col("__sk").as("__skb"),
        col("sz").as("nb"))
      a.crossJoin(b).filter(col("src_a") < col("src_b"))
        .join(inter, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("na"), col("nb"),
          coalesce(col("inter"), lit(0L)).as("inter"),
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L))).as("uni"),
          (abs(hll_sketch_estimate(hll_union(col("__ska"), col("__skb"))) -
            (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))
              .cast("double")) <=
            (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))
              .cast("double") * 0.05).as("est_union_ok"))
    }),
    // The dedup-tuning eval harness: precision/recall/F1 of q32's
    // MinHash-LSH candidate pairs against the exact 3-gram Jaccard ≥ 0.5
    // ground truth (q70's recall-1.0 prefix-filter join). Both sides are
    // the engine's own deterministic operators, so the whole confusion
    // matrix is exact integers; the band-probability tradeoff (8 bands ×
    // 2 rows ⇒ s-curve at s ≈ 0.35) becomes a measured number instead of
    // a formula.
    "q205_minhash_eval" -> ((s, d) => {
      val pred = Dedup.minHashLsh(doc(s, d), "text", "doc_id", k = 3,
          bands = 8, rowsPerBand = 2, threshold = 0.5, family = "md5p61")
        .select(col("id_a"), col("id_b"), lit(1L).as("__p"))
      val truth = Dedup.ngramJaccardSelfPairs(doc(s, d), "text", "doc_id",
          k = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("__t"))
      pred.join(truth, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("__p").isNotNull && col("__t").isNotNull, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("__p").isNotNull && col("__t").isNull, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("__p").isNull && col("__t").isNotNull, 1L)
            .otherwise(0L)).as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("prec"),
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("rec"),
          round((col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")), 6).as("f1"))
    }),
    // Personalized weighted PageRank (random walk with restart) from the
    // graph's minimum node over support-WEIGHTED co-purchase edges — the
    // recommendation primitive q133's global stationary mass cannot
    // express. See graph/PageRank.personalizedWeighted.
    "q206_personalized_pagerank" -> ((s, d) => {
      val lp = li(s, d).select(col("l_orderkey"), col("l_partkey"))
      val pw = lp.select(col("l_orderkey"), col("l_partkey").as("u"))
        .join(lp.select(col("l_orderkey"), col("l_partkey").as("v")),
          Seq("l_orderkey"))
        .filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      // explode-symmetrize: one pass over the support agg — a union of
      // swapped projections re-runs its final agg per branch
      val edges = graft.graph.EdgeLayout.symmetrize(pw, "u", "v", Seq("w"))
      graft.graph.PageRank.personalizedWeighted(edges, iters = 2)
        .select(col("node"), round(col("pr"), 6).as("ppr"))
    }),
    // Laplace-mechanism noisy release of per-source doc counts (ε = 1,
    // sensitivity 1) — the data-governance primitive for publishing
    // corpus statistics. Noise via the inverse CDF over the q103
    // md5-uniform, shifted (x + 0.5)/2³² so u ∈ (0,1) strictly (ln never
    // sees 0) — deterministic, hence exactly oracle-replayable; a
    // deployment would swap the seeded uniform for a secret one, the
    // plumbing is identical. True counts emitted alongside: this query
    // verifies the MECHANISM, it is not a privacy boundary.
    "q207_dp_counts" -> ((s, d) => {
      val u = (conv(substring(md5(concat(lit("dp_"), col("source"))), 1, 8),
        16, 10).cast("double") + lit(0.5)) / lit(4294967296.0)
      val noise = when(u < 0.5, log(u * 2))
        .otherwise(-log((lit(1.0) - u) * 2))
      doc(s, d).groupBy("source").agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          round(col("n_docs") + noise, 4).as("noisy_docs"))
    }),
    // Streaming approx-distinct users per hourly window: HLL sketch state
    // (mergeable, O(2^lgK) bytes per key) where COUNT(DISTINCT) is
    // structurally unsupported; oracle pins batch-exact counts + the 5 %
    // estimate bound (q187's device, streamed). See
    // streaming/EventsStream.windowedApproxDistinct.
    "q208_stream_approx_distinct" -> ((s, d) =>
      EventsStream.windowedApproxDistinct(s, d)),
    // Distributed PCA top component by power iteration: the 64×64
    // covariance is ONE distributed pass (per-dim means rounded 6, the
    // q181 rule, then a vec_id self-join bounded at n·dims² rows —
    // LINEAR in corpus size since dims is model-fixed); the power
    // iterates run on the 4096-row cov TABLE, max-abs-normalized (the
    // q196 order-independent rule), round(8) per step. No driver-side
    // matrix, no collect.
    //
    // v0 = 1.0 exactly, NOT a fraction like 1/8: an 8-dp cov entry times
    // 0.125 is an exact multiple of 0.125e-8, so the Σ over 64 such
    // products lands EXACTLY ON the round-8 decimal midpoint — and then
    // the ±1e-15 float-order noise decides the rounding side per engine
    // (measured: 21/64 loadings flipped). With v0 = 1 the first sums sit
    // on the 1e-8 grid, 0.5e-8 away from any midpoint, and later
    // iterates are generic 16-decimal products — midpoint hits become
    // ~1e-7 probability instead of ~25 %.
    "q209_pca_power" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val e = emb.select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("i"),
          col("col").cast("double").as("x"))
      // mu feeds the centering join AND the v seed; c feeds both sides of
      // the covariance self-join — truncate each so the explode scan runs
      // once, not 4× (same fan-out class as cov below)
      val mu = graft.io.Checkpoints.truncate(
        e.groupBy("i").agg(round(avg(col("x")), 6).as("m")), eager = false)
      val c = graft.io.Checkpoints.truncate(
        e.join(broadcast(mu), Seq("i"))
          .select(col("vec_id"), col("i"), (col("x") - col("m")).as("xc")),
        eager = false)
      val n = emb.agg(count(lit(1)).as("n"))
      // cov (dim² rows) is the expensive embeddings self-join; unrolling 3
      // power iterations references it once per round and each round's v
      // twice (its own max-normalizer + the next round's join), so the
      // unmaterialized DAG replayed the self-join up to 14× (measured:
      // BroadcastNestedLoopJoin×21 in PLAN_AUDIT, 769-node plan). Truncate
      // cov once and each round's w — the dim-cardinality tables — so the
      // unrolled DAG is a linear chain (the r17 HITS/PageRank seam).
      val cov = graft.io.Checkpoints.truncate(c
        .join(c.select(col("vec_id"), col("i").as("j"), col("xc").as("yc")),
          Seq("vec_id"))
        .groupBy("i", "j").agg(sum(col("xc") * col("yc")).as("s"))
        .crossJoin(broadcast(n))
        .select(col("i"), col("j"), round(col("s") / (col("n") - 1), 8).as("a")),
        eager = false)
      var v = mu.select(col("i"), lit(1.0).as("v"))
      for (_ <- 1 to 3) {
        val w = graft.io.Checkpoints.truncate(
          cov.join(v.select(col("i").as("j"), col("v")), Seq("j"))
            .groupBy("i").agg(round(sum(col("a") * col("v")), 8).as("w")),
          eager = false)
        val m = w.agg(max(abs(col("w"))).as("m"))
        v = w.crossJoin(broadcast(m))
          .select(col("i"), round(col("w") / col("m"), 8).as("v"))
      }
      v.select(col("i").as("dim"), round(col("v"), 6).as("loading"))
    }),
    // 5-fold cross-validated simple regression (price ~ quantity): folds
    // by the q103 md5-uniform of the row key; per-fold training sums are
    // EXACT LONGS in cent-scaled space, so complement (train) sums are
    // exact subtraction — no float re-aggregation; slope/intercept are
    // mirrored double expressions over exact ingredients, residuals
    // integer-ized to dollars (exact square sums), RMSE one mirrored
    // sqrt. The model-selection harness companion to q205's dedup eval.
    "q210_cross_validation" -> ((s, d) => {
      // rows (scan + per-row md5 fold assignment) feeds the per-fold
      // training sums AND the residual pass — truncate so the md5 pass
      // runs once, not twice (the r17 fan-out seam)
      val rows = graft.io.Checkpoints.truncate(li(s, d).select(
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y100"),
        (conv(substring(md5(concat_ws("_", col("l_orderkey"),
          col("l_linenumber"))), 1, 8), 16, 10).cast("long") % 5).as("fold")),
        eager = false)
      val fs = rows.groupBy("fold").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y100")).as("sy"), sum(col("x") * col("y100")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val tot = fs.agg(sum(col("n")).as("tn"), sum(col("sx")).as("tsx"),
        sum(col("sy")).as("tsy"), sum(col("sxy")).as("tsxy"),
        sum(col("sxx")).as("tsxx"))
      val coef = fs.crossJoin(broadcast(tot))
        .select(col("fold"), (col("tn") - col("n")).as("ntr"),
          (col("tsx") - col("sx")).as("tx"), (col("tsy") - col("sy")).as("ty"),
          (col("tsxy") - col("sxy")).as("txy"),
          (col("tsxx") - col("sxx")).as("txx"))
        .withColumn("slope_c", round(
          (col("ntr").cast("double") * col("txy") -
            col("tx").cast("double") * col("ty")) /
            (col("ntr").cast("double") * col("txx") -
              col("tx").cast("double") * col("tx")), 8))
        .withColumn("icept_c", round(
          (col("ty").cast("double") - col("slope_c") * col("tx")) /
            col("ntr"), 8))
      rows.join(broadcast(coef), Seq("fold"))
        .select(col("fold"), col("ntr"), col("slope_c"), col("icept_c"),
          round((col("y100") - (col("icept_c") + col("slope_c") * col("x")))
            / 100).cast("long").as("rd"))
        .groupBy("fold", "ntr", "slope_c", "icept_c").agg(
          count(lit(1)).as("n_test"), sum(col("rd") * col("rd")).as("sr2"))
        .select(col("fold"), col("ntr").as("n_train"), col("n_test"),
          round(col("slope_c") / 100, 6).as("slope"),
          round(col("icept_c") / 100, 4).as("intercept"),
          round(sqrt(col("sr2").cast("double") / col("n_test")), 6).as("rmse"))
    }),
    // The hashing-trick vectorizer (Weinberger et al. 2009): tokens →
    // 256 buckets by md5, per-doc sparse count vectors — the fixed-width
    // featurization that needs NO vocabulary pass (unlike q116), which
    // is the point at 100 TB: one map-side projection + one hash agg.
    "q211_feature_hashing" -> ((s, d) =>
      doc(s, d).select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
        .select(col("doc_id"),
          (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 256)
            .as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))),
    // Rocchio/nearest-centroid text classifier over the q211 hashed
    // features — train AND score in one declarative plan, no ML library:
    // per-source centroids (6-dp means), per-(doc, source) dot products
    // as a postings join on bucket, argmax by (score desc, source asc).
    // Self-classification confusion matrix — how separable the sources'
    // vocabularies actually are.
    "q212_hash_centroid_classifier" -> ((s, d) => {
      // feat (the tokenize+md5+hash-agg pass over the whole corpus) feeds
      // BOTH the centroid build and the scoring join — truncate so the
      // expensive token pass runs once, not twice (r17 fan-out seam)
      val feat = graft.io.Checkpoints.truncate(doc(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        // pre-shuffle by doc id: the single-row-group documents scan
        // serialized the tokenize+md5 pass on one task (r17)
        .repartition(nPart(s), col("doc_id"))
        .select(col("doc_id"), col("source"), explode(Text.tokens(col("text"))).as("w"))
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 256)
            .as("bucket"))
        .groupBy("doc_id", "source", "bucket").agg(count(lit(1)).as("cnt")),
        eager = false)
      val nsrc = doc(s, d).groupBy("source").agg(count(lit(1)).as("nd"))
      // cent is a bounded 256×|sources| table read by cnorm AND the
      // scoring join: truncate (one compute) and BROADCAST it into the
      // postings join — shuffling the full feat relation by the 256-value
      // bucket key would funnel the corpus through ≤256 partitions
      val cent = graft.io.Checkpoints.truncate(
        feat.groupBy(col("source").as("csrc"), col("bucket"))
          .agg(sum(col("cnt")).as("sc"))
          .join(broadcast(nsrc.select(col("source").as("csrc"), col("nd"))), Seq("csrc"))
          .select(col("csrc"), col("bucket"),
            round(col("sc").cast("double") / col("nd"), 6).as("cv")),
        eager = false)
      val cnorm = cent.groupBy("csrc")
        .agg(round(sqrt(sum(col("cv") * col("cv"))), 6).as("cn"))
      val dots = feat.join(broadcast(cent), Seq("bucket"))
        .groupBy("doc_id", "source", "csrc")
        .agg(round(sum(col("cnt") * col("cv")), 6).as("dot"))
      val scored = dots.join(broadcast(cnorm), Seq("csrc"))
        .select(col("doc_id"), col("source"), col("csrc"),
          round(col("dot") / col("cn"), 6).as("score"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("csrc").asc)
      val pred = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      val cm = pred.groupBy("source", "csrc").agg(count(lit(1)).as("cnt"))
      val tot = cm.groupBy("source").agg(sum(col("cnt")).as("n"))
      cm.join(broadcast(tot), Seq("source"))
        .select(col("source"), col("csrc").as("pred_source"), col("cnt"),
          round(col("cnt").cast("double") / col("n"), 6).as("frac"))
    }),
    // Evaluation of the q26 n-gram language identifier against the TRUE
    // lang labels: full confusion matrix + per-language recall fractions
    // — the third eval harness beside q205 (dedup) and q210 (model CV).
    // Exact integers throughout but the one recall division.
    "q213_lang_id_eval" -> ((s, d) => {
      val p = doc(s, d).select(col("lang"), Text.langId(col("text")).as("lang_pred"))
      val cm = p.groupBy("lang", "lang_pred").agg(count(lit(1)).as("cnt"))
      val tot = cm.groupBy("lang").agg(sum(col("cnt")).as("n"))
      cm.join(broadcast(tot), Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("cnt"),
          round(col("cnt").cast("double") / col("n"), 6).as("frac"))
    }),
    // File-statistics skipping simulator — the min/max-zonemap layer
    // every lake format (parquet row groups, Iceberg/Delta manifests)
    // adds under partition pruning (q80's directory layer). TWO layouts
    // of the same rows into ~15 "files", same mid-range 20 % shipdate
    // predicate: 'natural' (orderkey ranges — shipdate uncorrelated, so
    // every file straddles the window and zonemaps prune NOTHING) vs
    // 'clustered' (shipdate value-range files — the sort-by-filter-key
    // layout, zonemaps skip ~4/5 of files). The measured case FOR
    // clustering/z-ordering written as one query; all exact integer
    // micros.
    "q214_file_skipping" -> ((s, d) => {
      val base = li(s, d).select(col("l_orderkey"),
        unix_micros(col("l_shipdate").cast("timestamp")).as("sd"))
      val ext = base.agg(min(col("sd")).as("mn"), max(col("sd")).as("mx"))
      // li0 feeds the matched scalar AND both layout legs — truncate so
      // the lineitem scan + extent cross-join run once, not 3-4× (the
      // r17 fan-out seam; BNLJ×6 in PLAN_AUDIT was this replication)
      val li0 = graft.io.Checkpoints.truncate(
        base.crossJoin(broadcast(ext)).select(col("sd"),
          expr("l_orderkey DIV 1000").as("fid_nat"),
          expr("(sd - mn) DIV (((mx - mn) DIV 15) + 1)").as("fid_clu"),
          expr("mn + (mx - mn) * 2 DIV 5").as("lo"),
          expr("mn + (mx - mn) * 3 DIV 5").as("hi")), eager = false)
      val matched = li0.filter(col("sd") >= col("lo") && col("sd") <= col("hi"))
        .agg(count(lit(1)).as("rows_matched"))
      def layout(fid: String, name: String) = li0
        .groupBy(col(fid).as("file_id"))
        .agg(min(col("sd")).as("fmin"), max(col("sd")).as("fmax"),
          count(lit(1)).as("nrows"), min(col("lo")).as("lo"), min(col("hi")).as("hi"))
        .withColumn("__scan", col("fmax") >= col("lo") && col("fmin") <= col("hi"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("__scan"), 1L).otherwise(0L)).as("files_scanned"),
          sum(col("nrows")).as("rows_total"),
          sum(when(col("__scan"), col("nrows")).otherwise(0L)).as("rows_scanned"))
        .crossJoin(broadcast(matched))
        .select(lit(name).as("layout"), col("n_files"), col("files_scanned"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          round(lit(1.0) - col("files_scanned").cast("double") / col("n_files"), 6)
            .as("prune_frac"),
          round(col("rows_matched").cast("double") / col("rows_scanned"), 6)
            .as("scan_efficiency"))
      layout("fid_nat", "natural").unionByName(layout("fid_clu", "clustered"))
    }),
    // Hybrid retrieval fusion (RRF, Cormack et al. 2009): BM25's lexical
    // top-50 and the exact-cosine dense top-50 for probe doc 0, fused by
    // reciprocal rank — rrf = Σ 1/(60 + rank) — which needs NO score
    // calibration between the two systems (the reason RRF is the default
    // hybrid fuser): ranks are exact integers, each reciprocal is one
    // exact-ingredient division, the sum is two fixed-order terms. Final
    // top-10 via TakeOrdered.
    "q215_hybrid_rrf" -> ((s, d) => {
      val sparse = graft.text.Bm25.topK(doc(s, d), "doc_id", "text",
          Seq("vector", "join", "scan"), 50)
        .filter(col("doc_id") =!= 0L)
        .select(col("doc_id"), col("rnk").as("r_bm25"))
      val emb = Tables.embeddings(s, d)
      val dense = graft.similarity.Similarity.cosineTopK(
          emb.filter(col("vec_id") === 0L), emb.filter(col("vec_id") =!= 0L),
          "vec_id", "embedding", 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("r_cos"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_bm25"), col("r_cos"),
          round(coalesce(lit(1.0) / (lit(60) + col("r_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
    }),
    // Watermark lateness audit: the generated stream is PERFECTLY
    // event-time ordered (zero disorder measured), so a deterministic
    // md5-uniform arrival jitter of ±30 min simulates the out-of-order
    // delivery every real transport has — the standard watermark-testing
    // device — and the audit then measures, per event_type, how many
    // events a 10-min watermark would drop and by how much. The running
    // max-timestamp over ARRIVAL order is PrefixSum's exclusive running
    // max (one range exchange on arrival, one sorted map pass) — never a
    // stream-wide ordered window.
    // All exact integer micros.
    "q216_lateness_audit" -> ((s, d) => {
      val horizonUs = 600000000L
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"))
        .withColumn("arr", col("tsu") +
          (conv(substring(md5(concat(lit("arr_"), col("event_id"))), 1, 8),
            16, 10).cast("long") % 3600000000L) - 1800000000L)
      val run = PrefixSum(ev, Seq(col("arr"), col("event_id")),
          PrefixSum.Max(col("tsu"), "__pmax"))
        .withColumn("__runmax", coalesce(col("__pmax"), lit(Long.MinValue)))
        .withColumn("__late",
          col("__runmax") =!= lit(Long.MinValue) &&
            col("tsu") < col("__runmax") - lit(horizonUs))
      run.groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          sum(when(col("__late"), 1L).otherwise(0L)).as("n_late"),
          max(when(col("__late"),
            col("__runmax") - lit(horizonUs) - col("tsu"))).as("__ml"))
        .select(col("event_type"), col("n_events"), col("n_late"),
          expr("coalesce(__ml DIV 1000000, 0)").as("max_late_s"))
    }),
    // Count-Min sketch (Cormode & Muthukrishnan '05) — frequency
    // estimation in O(d·w) space regardless of key cardinality. The
    // counter build is ONE partial+final hash agg over (row, bucket);
    // the sketch is d·w = 1024 cells at ANY corpus size, so the probe
    // side broadcasts a bounded table. Hashes are the md5 engine-exact
    // device (q60/q216); estimates are deterministic upper bounds
    // (est >= exact), so the oracle replays the construction exactly —
    // no tolerance band. The ~800-key probe set is itself bounded
    // (event_type × user bucket), so the global top-20 window is over
    // a key-cardinality table, not the corpus.
    "q217_cms_freq" -> ((s, d) => {
      val w = 256
      def bucket(i: Column, key: Column): Column =
        conv(substring(md5(concat(lit("cms_"), i.cast("string"), lit("_"),
          key)), 1, 8), 16, 10).cast("long") % w
      val rows = array((0 until 4).map(lit): _*)
      val keyed = ev(s, d).select(concat(col("event_type"), lit("_"),
        (col("user_id") % 100).cast("string")).as("key"))
      val counters = keyed.withColumn("i", explode(rows))
        .withColumn("bucket", bucket(col("i"), col("key")))
        .groupBy("i", "bucket").agg(count(lit(1)).as("cnt"))
      val exact = keyed.groupBy("key").agg(count(lit(1)).as("exact_cnt"))
      exact.withColumn("i", explode(rows))
        .withColumn("bucket", bucket(col("i"), col("key")))
        .join(broadcast(counters), Seq("i", "bucket"))
        .groupBy("key", "exact_cnt").agg(min(col("cnt")).as("cms_est"))
        .withColumn("__rn", row_number().over(
          Window.orderBy(col("exact_cnt").desc, col("key").asc)))
        .filter(col("__rn") <= 20).drop("__rn")
    }),
    // Sorted-neighborhood blocking (Hernández & Stolfo '95) — the
    // classic entity-resolution alternative to LSH: one global sort on
    // a normalized key, then compare only rows within a fixed window
    // w=10. The global rank is computed WITHOUT a corpus-wide window:
    // PrefixSum's exclusive row count over (key nulls first, doc_id),
    // one range exchange and one sorted map pass. The candidate join is
    // banded on rank DIV w (a pair within w spans at most two adjacent
    // bands), so it is an equi-join, never a range cross-product.
    // Verifier = the codegen'd JaroWinkler expression (DuckDB parity
    // proven by q156).
    "q218_sorted_neighborhood" -> ((s, d) => {
      val w = 10
      val k = doc(s, d).select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z]", ""), 1, 40)
          .as("nk"))
      // (nk is not null, nk or "") orders exactly as nk ASC NULLS FIRST,
      // without a null key for PrefixSum to drop
      val r = PrefixSum(k, Seq(col("nk").isNotNull, coalesce(col("nk"), lit("")),
          col("doc_id")), PrefixSum.count("__before"))
        .select(col("doc_id"), col("nk"), (col("__before") + 1L).as("rn"))
      val left = r.select(col("doc_id").as("doc_a"), col("nk").as("ka"),
          col("rn").as("ra"))
        .withColumn("band",
          explode(array(expr(s"ra DIV $w"), expr(s"ra DIV $w + 1"))))
      val right = r.select(col("doc_id").as("doc_b"), col("nk").as("kb"),
          expr(s"rn DIV $w").as("band"), col("rn").as("rb"))
      left.join(right, Seq("band"))
        .filter(col("rb") > col("ra") && col("rb") <= col("ra") + w)
        .withColumn("sim",
          round(graft.functions.JaroWinkler(col("ka"), col("kb")), 4))
        .filter(col("sim") >= 0.9)
        .select(col("doc_a"), col("doc_b"), col("sim"))
    }),
    // Skip-gram PPMI co-occurrence (word2vec's implicit matrix,
    // Levy & Goldberg '14) — pairs at offsets 1..3 are generated
    // per-row with zip_with over slices (zero shuffle before the
    // count aggs; q150's bigram device generalized to a window), so
    // the corpus never self-joins. Positive-PMI scoring keeps the
    // ln() arithmetic shape identical on both engines (the q150
    // parity precedent); the top-50 window runs over the >=5-support
    // pair table, which min-support keeps sparse.
    "q219_skipgram_ppmi" -> ((s, d) => {
      val toks = doc(s, d).select(split(col("text"), " ").as("t"))
      val pairs = toks.select(explode(expr(
        """flatten(transform(array(1, 2, 3), k ->
          |  zip_with(slice(t, 1, greatest(size(t) - k, 0)),
          |           slice(t, 1 + k, greatest(size(t) - k, 0)),
          |    (a, b) -> struct(a AS w1, b AS w2))))""".stripMargin)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val cp = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
      val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("cx"))
      val c2 = pairs.groupBy("w2").agg(count(lit(1)).as("cy"))
      val tot = pairs.agg(count(lit(1)).as("__nt"))
      cp.join(c1, Seq("w1")).join(c2, Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("__raw", log(col("cxy")) + log(col("__nt"))
          - log(col("cx")) - log(col("cy")))
        .filter(col("__raw") > 0)
        .select(col("w1"), col("w2"), col("cxy"),
          round(col("__raw"), 4).as("ppmi"))
        .withColumn("__rn", row_number().over(
          Window.orderBy(col("ppmi").desc, col("w1").asc, col("w2").asc)))
        .filter(col("__rn") <= 50).drop("__rn")
    }),
    // Paragraph-style chunk-level exact dedup (RefinedWeb/C4 line
    // dedup, scaled to fixed 16-token chunks since the corpus has no
    // newlines): chunks are cut per-row with transform+slice (no
    // explode-join), the keep-first winner per distinct chunk is ONE
    // hash agg — the typed arg_min_by over the (doc_id, idx) tuple
    // order (builtin min(struct) buffers an immutable struct and sinks
    // the corpus agg into SortAggregate; PLAN_AUDIT caught it), exact
    // at ANY chunk count AND any doc_id (both fields integral, so the
    // exact long key has no 2^53 double-precision cliff; a packed
    // doc_id·K + idx key would silently corrupt the total order past K
    // chunks/doc), no corpus window — and the survivor ratio is a
    // second bounded agg.
    // Text shuffles once (the chunk groupBy); fingerprint-only
    // variants would shuffle a hash instead (the q114 device).
    "q220_chunk_dedup" -> ((s, d) => {
      val chunks = chunks16(doc(s, d))
      val kept = chunks.groupBy("chunk")
        .agg(graft.functions.ArgMinBy(struct(col("doc_id"), col("idx")),
          col("doc_id"), col("idx")).as("keeper"))
      chunks.join(kept, Seq("chunk"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_chunks"),
          sum(when(struct(col("doc_id"), col("idx")) === col("keeper"), 1L)
            .otherwise(0L)).as("n_kept"))
        .withColumn("kept_ratio",
          round(col("n_kept").cast("double") / col("n_chunks"), 4))
    }),
    // Cross-source quantile normalization — map each source's score
    // distribution onto the GLOBAL distribution before thresholding, so
    // one cutoff means the same thing for every source (the score-
    // calibration step ahead of q123-style pruning). No corpus-wide
    // window anywhere: the within-source rank decomposes into a
    // per-(source, value) row_number plus a per-source prefix-sum over
    // the DISTINCT-VALUE histogram (partitioned by source), and
    // the global quantile lookup is a range join against the bounded
    // global cumulative histogram. Rank arithmetic is exact integers;
    // the one float expression ((rank−0.5)/n·N, then ceil) has identical
    // shape on both engines.
    "q221_quantile_normalize" -> ((s, d) => {
      val docs = doc(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val hist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("__c"))
      val offs = hist.withColumn("__lo", coalesce(
        sum(col("__c")).over(Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("source"), col("n_chars"), col("__lo"))
      val rs = docs.withColumn("__r", row_number().over(
          Window.partitionBy("source", "n_chars").orderBy("doc_id")))
        .join(offs, Seq("source", "n_chars"))
        .withColumn("rs", col("__lo") + col("__r"))
      val ns = docs.groupBy("source").agg(count(lit(1)).as("__ns"))
      val tot = docs.agg(count(lit(1)).as("__n"))
      val tgt = rs.join(broadcast(ns), Seq("source")).crossJoin(broadcast(tot))
        .withColumn("tr",
          ceil((col("rs") - lit(0.5)) / col("__ns") * col("__n")).cast("long"))
      val gcum = docs.groupBy("n_chars").agg(count(lit(1)).as("__c"))
        .withColumn("__hi", sum(col("__c")).over(Window.orderBy("n_chars")))
        .withColumn("__glo", col("__hi") - col("__c"))
        .select(col("n_chars").as("__v"), col("__glo"), col("__hi"))
      tgt.join(broadcast(gcum),
          col("tr") > col("__glo") && col("tr") <= col("__hi"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("__v").as("norm_chars"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Per-word log-ratio = single ln of one exact integer ratio, kept in
    // integer micro-units so doc sums are exact long arithmetic (order-
    // independent); selection replayed as a plain rank (the engine's
    // TakeOrdered boundary is the same total order).
    "q183_dsir_weights" ->
      """WITH tok AS (
        | SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        | FROM documents),
        |vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
        |tot AS (
        | SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tt,
        |  CAST(count(*) AS BIGINT) AS tr FROM tok),
        |wc AS (
        | SELECT w,
        |  CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ct,
        |  CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY w),
        |lr AS (
        | SELECT w, CAST(round(ln(CAST((ct + 1) * (tr + v) AS DOUBLE) /
        |                  ((cr + 1) * (tt + v))) * 1000000) AS BIGINT) AS lrw6
        | FROM wc, vocab, tot),
        |dw AS (
        | SELECT t.doc_id,
        |  round(CAST(sum(lr.lrw6) AS DOUBLE) / 1000000, 4) AS weight
        | FROM tok t JOIN lr ON t.w = lr.w GROUP BY t.doc_id),
        |rk AS (
        | SELECT doc_id, weight,
        |  row_number() OVER (ORDER BY weight DESC, doc_id) AS rnk FROM dw)
        |SELECT doc_id, weight, rnk <= 100 AS selected FROM rk""".stripMargin,
    // The q125 score feeding tercile cuts; quantile_cont matches Spark's
    // exact `percentile` interpolation (the q104 precedent).
    "q184_ccnet_buckets" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok),
        |sc AS (
        | SELECT doc_id, round(sum(ln(CAST(f AS DOUBLE) / t)) / count(*), 4)
        |   AS score
        | FROM tok JOIN freq USING (w), tot GROUP BY doc_id),
        |cut AS (
        | SELECT quantile_cont(score, 0.33333333) AS t1,
        |  quantile_cont(score, 0.66666667) AS t2 FROM sc)
        |SELECT doc_id, score,
        | CASE WHEN score >= t2 THEN 'head' WHEN score >= t1 THEN 'middle'
        |  ELSE 'tail' END AS bucket,
        | score >= t1 AS keep
        |FROM sc, cut""".stripMargin,
    // Same planted augmentation, same fixed redaction order (emails →
    // IPv4 → phone-shaped); RE2 'g' flag ≡ Spark's global replace.
    "q185_pii_redact" ->
      """WITH aug AS (
        | SELECT doc_id, text ||
        |  CASE CAST(doc_id % 5 AS INTEGER)
        |   WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
        |   WHEN 1 THEN ' call 555-' ||
        |     lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') || ' today'
        |   WHEN 2 THEN ' from 10.' || doc_id % 256 || '.' ||
        |     (doc_id * 3) % 256 || '.' || (doc_id * 7) % 256 || ' logged'
        |   ELSE '' END AS text2
        | FROM documents),
        |r1 AS (
        | SELECT doc_id, text2,
        |  CAST(len(regexp_extract_all(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(text2,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t1
        | FROM aug)
        |SELECT doc_id, n_emails, n_ips,
        | CAST(len(regexp_extract_all(t1, '\b\d{3}-\d{4}\b')) AS BIGINT)
        |   AS n_phones,
        | regexp_replace(t1, '\b\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
        |FROM r1""".stripMargin,
    // The q105 CTE chain per 16-dim block: lowest-id init, one 6-dp
    // rounded-mean update, (dist, cid) nearest replayed as row_number.
    // The ADC sum replays Spark's ascending-block left fold via
    // list(dpb ORDER BY b) + list_reduce — bit-identical 4-term sums.
    "q186_pq_topk" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |blk AS (SELECT unnest(range(0, 4)) AS b),
        |sv AS (
        | SELECT e.vec_id, blk.b, e.v[blk.b*16+1 : blk.b*16+16] AS sv
        | FROM e, blk),
        |c0 AS (
        | SELECT b, vec_id AS cid, sv AS cv FROM (
        |  SELECT b, vec_id, sv,
        |   row_number() OVER (PARTITION BY b ORDER BY vec_id) AS rn FROM sv) t
        | WHERE rn <= 16),
        |a1 AS (
        | SELECT vec_id, b, cell, sv FROM (
        |  SELECT sv.vec_id, sv.b, c.cid AS cell, sv.sv,
        |   row_number() OVER (PARTITION BY sv.vec_id, sv.b ORDER BY
        |     list_reduce(list_transform(list_zip(sv.sv, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, x) -> a + x) ASC,
        |     c.cid ASC) AS rn
        |  FROM sv JOIN c0 c USING (b)) t WHERE rn = 1),
        |c1 AS (
        | SELECT b, cell AS cid, list(m ORDER BY i) AS cv FROM (
        |  SELECT b, cell, d.i AS i, round(avg(sv[d.i]), 6) AS m
        |  FROM a1, (SELECT unnest(range(1, 17)) AS i) d
        |  GROUP BY b, cell, d.i) s
        | GROUP BY b, cell),
        |codes AS (
        | SELECT vec_id, b, cell FROM (
        |  SELECT sv.vec_id, sv.b, c.cid AS cell,
        |   row_number() OVER (PARTITION BY sv.vec_id, sv.b ORDER BY
        |     list_reduce(list_transform(list_zip(sv.sv, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, x) -> a + x) ASC,
        |     c.cid ASC) AS rn
        |  FROM sv JOIN c1 c USING (b)) t WHERE rn = 1),
        |probe AS (SELECT b, sv AS pv FROM sv WHERE vec_id = 0),
        |lut AS (
        | SELECT c1.b, c1.cid,
        |  list_reduce(list_transform(list_zip(p.pv, c1.cv),
        |    z -> (z[1] - z[2]) * (z[1] - z[2])), (a, x) -> a + x) AS dpb
        | FROM c1 JOIN probe p USING (b)),
        |adcs AS (
        | SELECT codes.vec_id,
        |  round(list_reduce(list(lut.dpb ORDER BY codes.b), (a, x) -> a + x),
        |    6) AS adc
        | FROM codes JOIN lut ON codes.b = lut.b AND codes.cell = lut.cid
        | GROUP BY codes.vec_id),
        |rk AS (
        | SELECT vec_id, adc, row_number() OVER (ORDER BY adc, vec_id) AS rnk
        | FROM adcs)
        |SELECT CAST(rnk AS BIGINT) AS rank, vec_id, adc
        |FROM rk WHERE rnk <= 10""".stripMargin,
    // Exact distinct counts replayed; the HLL estimates are engine-
    // internal, so the bound booleans assert TRUE (the q40 device —
    // lgK=14 rse ~0.8 % against the 5 % gate).
    "q187_hll_rollup" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS exact_words,
        | TRUE AS est_ok
        |FROM tok GROUP BY source
        |UNION ALL
        |SELECT 'ALL' AS source, CAST(count(DISTINCT w) AS BIGINT), TRUE
        |FROM tok""".stripMargin,
    // Exact containment replay: the engine's prefix filter has recall
    // 1.0, so the naive all-pairs postings join gives identical rows.
    // Gram STRINGS here ≡ the engine's 64-bit shingle hashes (the q70
    // hash-identity convention).
    "q188_containment_pairs" ->
      """WITH t AS (
        | SELECT doc_id, list_distinct(
        |   CASE WHEN len(string_split(text, ' ')) >= 3
        |    THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))
        |    ELSE [] END) AS grams
        | FROM documents),
        |s AS (SELECT doc_id, len(grams) AS sz FROM t),
        |p AS (SELECT doc_id, unnest(grams) AS gram FROM t),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared
        | FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, shared,
        | round(CAST(shared AS DOUBLE) / sa.sz, 6) AS containment
        |FROM pairs JOIN s sa ON pairs.id_a = sa.doc_id
        |WHERE CAST(shared AS DOUBLE) / sa.sz >= 0.8""".stripMargin,
    // First-seen source rank per gram + per-source distinct counts; the
    // novelty ratio is a division of exact integers.
    "q189_source_novelty" ->
      """WITH t AS (
        | SELECT CAST(substr(source, 4) AS BIGINT) AS srank,
        |  string_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT srank, unnest(CASE WHEN len(toks) >= 3
        |   THEN list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))
        |   ELSE [] END) AS gram
        | FROM t),
        |fst AS (SELECT gram, min(srank) AS first_rank FROM g GROUP BY gram),
        |nov AS (SELECT first_rank, CAST(count(*) AS BIGINT) AS novel
        |        FROM fst GROUP BY 1),
        |tot AS (SELECT srank, CAST(count(DISTINCT gram) AS BIGINT)
        |          AS distinct_grams FROM g GROUP BY srank)
        |SELECT tot.srank AS source_rank, 'src' || tot.srank AS source,
        | distinct_grams,
        | coalesce(nov.novel, 0) AS novel_grams,
        | round(CAST(coalesce(nov.novel, 0) AS DOUBLE) / distinct_grams, 6)
        |   AS novelty
        |FROM tot LEFT JOIN nov ON nov.first_rank = tot.srank""".stripMargin,
    // q70's recursive-CTE components + the q103 md5-uniform device on the
    // canonical id — cluster-consistent folds by construction.
    "q190_leakage_folds" ->
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
        |SELECT node AS doc_id, min(label) AS canonical_id,
        | CAST(CAST(concat('0x',
        |   substr(md5(CAST(min(label) AS VARCHAR)), 1, 8)) AS BIGINT) % 5
        |  AS BIGINT) AS fold
        |FROM cc GROUP BY node""".stripMargin,
    // Exact-integer rank algebra (2·avg_rank = 2·cum − t + 1) so U and the
    // tie term are BIGINTs; z is the one float expression, mirrored
    // op-for-op against Stats.mannWhitneyU.
    "q191_mann_whitney" ->
      """WITH sub AS (
        | SELECT source AS g, n_chars AS v FROM documents
        | WHERE source IN ('src0', 'src1')),
        |byv AS (
        | SELECT v, CAST(count(*) AS BIGINT) AS t,
        |  CAST(sum(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ta
        | FROM sub GROUP BY v),
        |rk AS (
        | SELECT t, ta, CAST(sum(t) OVER (ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM byv),
        |ag AS (
        | SELECT CAST(sum(ta * (cum * 2 - t + 1)) AS BIGINT) AS r2a,
        |  CAST(sum(ta) AS BIGINT) AS na,
        |  CAST(sum(t - ta) AS BIGINT) AS nb,
        |  CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM rk),
        |z0 AS (
        | SELECT na AS n_a, nb AS n_b,
        |  CAST(r2a - na * (na + 1) AS DOUBLE) / 2 AS u_a,
        |  CAST(na AS DOUBLE) * nb
        |    - CAST(r2a - na * (na + 1) AS DOUBLE) / 2 AS u_b,
        |  round(CAST(r2a - na * (na + 1) - na * nb AS DOUBLE) /
        |    (2 * sqrt(CAST(na AS DOUBLE) * nb / 12.0 *
        |      (CAST(na + nb + 1 AS DOUBLE) - CAST(ties AS DOUBLE) /
        |        (CAST(na + nb AS DOUBLE) * (na + nb - 1))))), 6) AS z
        | FROM ag)
        |SELECT n_a, n_b, u_a, u_b, z, abs(z) > 1.959964 AS significant
        |FROM z0""".stripMargin,
    // Context count c(w1,·) derived from the c2 table (sum of bigram
    // counts by first word — identical to counting the bigram stream);
    // per-gram log-prob as one ln of an exact integer ratio in micro-nats
    // (the q183 device), per-doc sums exact longs.
    "q192_bigram_ppl" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        | SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
        | FROM t, unnest(range(1, len(toks))) AS r(i)),
        |c2 AS (
        | SELECT gram, split_part(gram, ' ', 1) AS w1,
        |  CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY gram),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        |lp AS (
        | SELECT c2.gram, CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE) /
        |    CAST(c1.c1 + v.v AS DOUBLE)) * 1000000) AS BIGINT) AS lp6
        | FROM c2 JOIN c1 USING (w1), v),
        |pd AS (
        | SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(lp.lp6) AS BIGINT) AS s6
        | FROM bg JOIN lp USING (gram) GROUP BY bg.doc_id)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        | coalesce(round(CAST(-s6 AS DOUBLE) / 1000000 / n_bigrams, 4), 0.0)
        |   AS h
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // The engine's distributed rank ≡ one global row_number here;
    // snake CASE replayed verbatim.
    "q193_balanced_shards" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT) AS w
        | FROM documents),
        |rk AS (
        | SELECT doc_id, w,
        |  row_number() OVER (ORDER BY w DESC, doc_id) AS r FROM d),
        |sh AS (
        | SELECT w, CAST(CASE WHEN ((r - 1) // 8) % 2 = 0 THEN (r - 1) % 8
        |   ELSE 7 - (r - 1) % 8 END AS BIGINT) AS shard
        | FROM rk)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(w) AS BIGINT) AS total_tokens
        |FROM sh GROUP BY shard""".stripMargin,
    // Count table then rank — same shape as the engine; binary
    // string order on ascii grams is collation-safe in both engines.
    "q194_wimbd_topk" ->
      """WITH t AS (
        | SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT source, array_to_string(toks[i : i + 2], ' ') AS gram
        | FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
        | WHERE len(toks) >= 3),
        |c AS (
        | SELECT source, gram, CAST(count(*) AS BIGINT) AS cnt
        | FROM g GROUP BY source, gram),
        |r AS (
        | SELECT source, gram, cnt, row_number() OVER (
        |   PARTITION BY source ORDER BY cnt DESC, gram) AS rn FROM c)
        |SELECT source, gram, cnt FROM r WHERE rn <= 10""".stripMargin,
    // Chars via substr-by-position (unambiguous in both engines, unlike
    // empty-separator splits); per-(doc,char) c·ln c in micro-nats → exact
    // long sums; H mirrors the engine's op order.
    "q195_char_entropy" ->
      """WITH ch AS (
        | SELECT doc_id, substr(text, i, 1) AS c
        | FROM documents, unnest(range(1, len(text) + 1)) AS r(i)),
        |hist AS (
        | SELECT doc_id, c, CAST(count(*) AS BIGINT) AS nc
        | FROM ch GROUP BY doc_id, c),
        |term AS (
        | SELECT doc_id, nc,
        |  CAST(round(CAST(nc AS DOUBLE) * ln(CAST(nc AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS t6
        | FROM hist),
        |pd AS (
        | SELECT doc_id, CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(t6) AS BIGINT) AS s6
        | FROM term GROUP BY doc_id)
        |SELECT doc_id, n_chars,
        | round(ln(CAST(n_chars AS DOUBLE))
        |   - CAST(s6 AS DOUBLE) / 1000000 / n_chars, 4) AS h
        |FROM pd""".stripMargin,
    // Two unrolled hub/authority rounds; round(sum, 8) per half-step and
    // MAX (order-independent) normalization replay graph/Hits verbatim.
    "q196_hits" ->
      """WITH eo AS (
        | SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT src AS node, 1.0::DOUBLE AS score FROM eo),
        |a1r AS (SELECT dst AS node, round(sum(score), 8) AS raw
        |        FROM eo JOIN h0 ON h0.node = eo.src GROUP BY dst),
        |a1m AS (SELECT max(raw) AS mx FROM a1r),
        |a1 AS (SELECT node, round(raw / mx, 8) AS score FROM a1r, a1m),
        |h1r AS (SELECT src AS node, round(sum(score), 8) AS raw
        |        FROM eo JOIN a1 ON a1.node = eo.dst GROUP BY src),
        |h1m AS (SELECT max(raw) AS mx FROM h1r),
        |h1 AS (SELECT node, round(raw / mx, 8) AS score FROM h1r, h1m),
        |a2r AS (SELECT dst AS node, round(sum(score), 8) AS raw
        |        FROM eo JOIN h1 ON h1.node = eo.src GROUP BY dst),
        |a2m AS (SELECT max(raw) AS mx FROM a2r),
        |a2 AS (SELECT node, round(raw / mx, 8) AS score FROM a2r, a2m),
        |h2r AS (SELECT src AS node, round(sum(score), 8) AS raw
        |        FROM eo JOIN a2 ON a2.node = eo.dst GROUP BY src),
        |h2m AS (SELECT max(raw) AS mx FROM h2r),
        |h2 AS (SELECT node, round(raw / mx, 8) AS score FROM h2r, h2m)
        |SELECT 'hub' AS kind, node, round(score, 6) AS score FROM h2
        |UNION ALL
        |SELECT 'auth' AS kind, node, round(score, 6) AS score FROM a2""".stripMargin,
    // Exact integer arithmetic end-to-end; the single division is
    // mirrored op-for-op.
    "q197_simpson_diversity" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (
        | SELECT source, w, CAST(count(*) AS BIGINT) AS c
        | FROM tok GROUP BY source, w),
        |ag AS (
        | SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(c * (c - 1)) AS BIGINT) AS ss
        | FROM wc GROUP BY source)
        |SELECT source, n_tokens, vocab,
        | round(1.0 - CAST(ss AS DOUBLE) /
        |   (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6) AS simpson
        |FROM ag""".stripMargin,
    // Shared-vocab inner join + the exclusive-mass ln 2 identity; the
    // order-dependent vocab sum rides the q180 round(4) seam.
    "q198_source_jsd" ->
      """WITH w AS (
        | SELECT source, unnest(string_split(text, ' ')) AS word
        | FROM documents),
        |sc AS (
        | SELECT source, word, CAST(count(*) AS BIGINT) AS c
        | FROM w GROUP BY source, word),
        |st AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS nt
        | FROM w GROUP BY source),
        |p AS (
        | SELECT source, word, CAST(c AS DOUBLE) / CAST(nt AS DOUBLE) AS p
        | FROM sc JOIN st USING (source)),
        |sh AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  sum(a.p * ln(a.p * 2 / (a.p + b.p))
        |    + b.p * ln(b.p * 2 / (a.p + b.p))) AS sh,
        |  sum(a.p) AS spa, sum(b.p) AS spb
        | FROM p a JOIN p b ON a.word = b.word AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT src_a, src_b,
        | round((sh + ln(2.0) * (2.0 - spa - spb)) * 0.5, 4) AS jsd
        |FROM sh""".stripMargin,
    // Continuation counts from the gram-type table; P's two-term float
    // expression replayed in the engine's exact op order, ln in
    // micro-nats (the q183/q192 device).
    "q199_kneser_ney_ppl" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (
        | SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
        | FROM t, unnest(range(1, len(toks))) AS r(i)),
        |c2 AS (
        | SELECT gram, split_part(gram, ' ', 1) AS w1,
        |  split_part(gram, ' ', 2) AS w2,
        |  CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY gram),
        |c1 AS (
        | SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
        |  CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY w1),
        |n1b AS (
        | SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY w2),
        |btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2),
        |lp AS (
        | SELECT c2.gram, CAST(round(ln(
        |   (CAST(c2.c2 AS DOUBLE) - 0.75) / c1.c1
        |     + 0.75 * c1.n1f / c1.c1 * (CAST(n1b.n1b AS DOUBLE) / btot.b))
        |   * 1000000) AS BIGINT) AS lp6
        | FROM c2 JOIN c1 USING (w1) JOIN n1b USING (w2), btot),
        |pd AS (
        | SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(lp.lp6) AS BIGINT) AS s6
        | FROM bg JOIN lp USING (gram) GROUP BY bg.doc_id)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        | coalesce(round(CAST(-s6 AS DOUBLE) / 1000000 / n_bigrams, 4), 0.0)
        |   AS h_kn
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // q147's copurchase CTE, full wedge enumeration (apex cap is a no-op
    // here and mirrored anyway), exact counts, one mirrored division.
    "q200_link_prediction" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |pr AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS n, v AS x FROM pr UNION ALL SELECT v, u FROM pr),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY n),
        |adjk AS (
        | SELECT adj.n, adj.x FROM adj JOIN deg USING (n) WHERE deg <= 1000),
        |cp AS (
        | SELECT a.x AS u, b.x AS v, CAST(count(*) AS BIGINT) AS common
        | FROM adjk a JOIN adjk b ON a.n = b.n AND a.x < b.x
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT cp.u, cp.v, common,
        | round(CAST(common AS DOUBLE) / (du.deg + dv.deg - common), 6)
        |   AS jaccard
        |FROM cp JOIN deg du ON du.n = cp.u JOIN deg dv ON dv.n = cp.v""".stripMargin,
    // Three unrolled steps of the md5-uniform next-hop pick over the
    // rank-indexed adjacency — the q190/q160 hash device, so the walk is
    // exactly replayable.
    "q201_random_walks" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |pr AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS n, v AS x FROM pr UNION ALL SELECT v, u FROM pr),
        |adjr AS (
        | SELECT n, x, row_number() OVER (PARTITION BY n ORDER BY x) AS r
        | FROM adj),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY n),
        |w0 AS (SELECT n AS walk_id, n AS cur FROM deg),
        |p1 AS (
        | SELECT walk_id, cur,
        |  CAST(concat('0x', substr(md5(CAST(walk_id AS VARCHAR) || '_1_'
        |    || CAST(cur AS VARCHAR)), 1, 8)) AS BIGINT) % deg + 1 AS pick
        | FROM w0 JOIN deg ON deg.n = w0.cur),
        |w1 AS (SELECT walk_id, x AS cur FROM p1
        |       JOIN adjr ON adjr.n = p1.cur AND adjr.r = p1.pick),
        |p2 AS (
        | SELECT walk_id, cur,
        |  CAST(concat('0x', substr(md5(CAST(walk_id AS VARCHAR) || '_2_'
        |    || CAST(cur AS VARCHAR)), 1, 8)) AS BIGINT) % deg + 1 AS pick
        | FROM w1 JOIN deg ON deg.n = w1.cur),
        |w2 AS (SELECT walk_id, x AS cur FROM p2
        |       JOIN adjr ON adjr.n = p2.cur AND adjr.r = p2.pick),
        |p3 AS (
        | SELECT walk_id, cur,
        |  CAST(concat('0x', substr(md5(CAST(walk_id AS VARCHAR) || '_3_'
        |    || CAST(cur AS VARCHAR)), 1, 8)) AS BIGINT) % deg + 1 AS pick
        | FROM w2 JOIN deg ON deg.n = w2.cur),
        |w3 AS (SELECT walk_id, x AS cur FROM p3
        |       JOIN adjr ON adjr.n = p3.cur AND adjr.r = p3.pick)
        |SELECT w1.walk_id, w1.cur AS s1, w2.cur AS s2, w3.cur AS s3
        |FROM w1 JOIN w2 USING (walk_id) JOIN w3 USING (walk_id)""".stripMargin,
    // Same capped wedge join as q200 with the apex 1/ln(deg) weight; the
    // AA sum rides the round(4) seam.
    "q202_adamic_adar" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |pr AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u AS n, v AS x FROM pr UNION ALL SELECT v, u FROM pr),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY n),
        |adjk AS (
        | SELECT adj.n, deg.deg, adj.x FROM adj JOIN deg USING (n)
        | WHERE deg <= 1000)
        |SELECT a.x AS u, b.x AS v, CAST(count(*) AS BIGINT) AS common,
        | round(sum(1.0 / ln(CAST(a.deg AS DOUBLE))), 4) AS aa
        |FROM adjk a JOIN adjk b ON a.n = b.n AND a.x < b.x
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    // q159's unrolled label-prop replay + exact modularity ingredients;
    // q_term rides integer nano-units everywhere (exact longs — the q93
    // round-to-integer device), and the ALL row sums them.
    "q203_modularity" ->
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
        | WHERE rn = 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |dc AS (
        | SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(deg) AS BIGINT) AS d_c
        | FROM l2 JOIN deg USING (node) GROUP BY label),
        |intra AS (
        | SELECT lu.label, CAST(count(*) AS BIGINT) AS e_c
        | FROM p JOIN l2 lu ON lu.node = p.u JOIN l2 lv ON lv.node = p.v
        | WHERE lu.label = lv.label GROUP BY lu.label),
        |per AS (
        | SELECT dc.label, dc.n_nodes, coalesce(intra.e_c, 0) AS e_c,
        |  dc.d_c, m.m,
        |  CAST(coalesce(intra.e_c, 0) AS DOUBLE) / m.m
        |    - (CAST(dc.d_c AS DOUBLE) / (m.m * 2))
        |      * (CAST(dc.d_c AS DOUBLE) / (m.m * 2)) AS t
        | FROM dc LEFT JOIN intra USING (label), m)
        |SELECT label, n_nodes, e_c, d_c,
        | CAST(round(t * 1000000000) AS BIGINT) AS q_term_nano FROM per
        |UNION ALL
        |SELECT -1 AS label, CAST(sum(n_nodes) AS BIGINT),
        | CAST(sum(e_c) AS BIGINT), CAST(sum(d_c) AS BIGINT),
        | CAST(sum(CAST(round(t * 1000000000) AS BIGINT)) AS BIGINT)
        |FROM per""".stripMargin,
    // q175's exact CTEs extended to ALL pairs (left join, zero-intersect
    // kept); the sketch estimate is engine-internal, so the oracle pins
    // the exact counts and expects the 5 % union bound to hold (the
    // q40/q187 TRUE-literal device — ~6× margin over lgK=14's rse).
    "q204_sketch_overlap" ->
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
        |SELECT sa.source AS src_a, sb.source AS src_b, sa.n AS na, sb.n AS nb,
        | coalesce(iv.inter, 0) AS inter,
        | sa.n + sb.n - coalesce(iv.inter, 0) AS uni,
        | TRUE AS est_union_ok
        |FROM sz sa JOIN sz sb ON sa.source < sb.source
        |LEFT JOIN iv ON iv.src_a = sa.source AND iv.src_b = sb.source""".stripMargin,
    // Prediction side = q32's full MinHash replay; truth side =
    // brute-force exact 3-gram Jaccard (DuckDB-side only — the engine's
    // truth is the prefix-filtered join, identical rows by recall 1.0);
    // confusion counts and ratios are exact integers.
    "q205_minhash_eval" ->
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
        |   ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |pred AS (SELECT id_a, id_b FROM cand WHERE est >= 0.5),
        |shd AS (SELECT doc_id, list_distinct(s) AS s FROM sh),
        |truth AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM shd a JOIN shd b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |j AS (
        | SELECT p.id_a IS NOT NULL AS isp, t.id_a IS NOT NULL AS ist
        | FROM pred p FULL OUTER JOIN truth t
        |   ON p.id_a = t.id_a AND p.id_b = t.id_b),
        |ag AS (
        | SELECT CAST(sum(CASE WHEN isp AND ist THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN isp AND NOT ist THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN NOT isp AND ist THEN 1 ELSE 0 END) AS BIGINT) AS fn
        | FROM j)
        |SELECT tp, fp, fn,
        | round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS prec,
        | round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS rec,
        | round(CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn), 6) AS f1
        |FROM ag""".stripMargin,
    // Two unrolled restart iterations; (1.0 - 0.85::DOUBLE) replays
    // Scala's 1.0 - damping (the q133 literal rule), per-iteration
    // round(8), weighted transition p.pr * w / wout in the engine's op
    // order.
    "q206_personalized_pagerank" ->
      """WITH lp AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |pw AS (
        | SELECT a.l_partkey AS u, b.l_partkey AS v,
        |  CAST(count(*) AS BIGINT) AS w
        | FROM lp a JOIN lp b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS (SELECT u AS src, v AS dst, w FROM pw
        |       UNION ALL SELECT v, u, w FROM pw),
        |e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
        |      FROM e0 GROUP BY 1, 2),
        |ow AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS wout
        |       FROM e GROUP BY 1),
        |sd AS (SELECT min(node) AS seed FROM ow),
        |p0 AS (
        | SELECT node, CASE WHEN node = seed THEN 1.0::DOUBLE
        |   ELSE 0.0::DOUBLE END AS pr FROM ow, sd),
        |c1 AS (
        | SELECT e.dst AS node, sum(p.pr * e.w / w2.wout) AS s
        | FROM e JOIN p0 p ON p.node = e.src JOIN ow w2 ON w2.node = e.src
        | GROUP BY e.dst),
        |p1 AS (
        | SELECT ow.node,
        |  round(CASE WHEN ow.node = seed THEN (1.0 - 0.85::DOUBLE)
        |    ELSE 0.0::DOUBLE END + 0.85::DOUBLE * coalesce(c1.s, 0.0), 8) AS pr
        | FROM ow LEFT JOIN c1 ON c1.node = ow.node, sd),
        |c2 AS (
        | SELECT e.dst AS node, sum(p.pr * e.w / w2.wout) AS s
        | FROM e JOIN p1 p ON p.node = e.src JOIN ow w2 ON w2.node = e.src
        | GROUP BY e.dst),
        |p2 AS (
        | SELECT ow.node,
        |  round(CASE WHEN ow.node = seed THEN (1.0 - 0.85::DOUBLE)
        |    ELSE 0.0::DOUBLE END + 0.85::DOUBLE * coalesce(c2.s, 0.0), 8) AS pr
        | FROM ow LEFT JOIN c2 ON c2.node = ow.node, sd)
        |SELECT node, round(pr, 6) AS ppr FROM p2""".stripMargin,
    // Same shifted md5-uniform through the same casewise Laplace inverse
    // CDF — deterministic noise, replayed op-for-op.
    "q207_dp_counts" ->
      """WITH c AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        | FROM documents GROUP BY source),
        |u AS (
        | SELECT source, n_docs,
        |  (CAST(concat('0x', substr(md5('dp_' || source), 1, 8)) AS BIGINT)
        |    + 0.5) / 4294967296.0 AS u
        | FROM c)
        |SELECT source, n_docs,
        | round(n_docs + CASE WHEN u < 0.5 THEN ln(u * 2)
        |   ELSE -ln((1.0 - u) * 2) END, 4) AS noisy_docs
        |FROM u""".stripMargin,
    // Batch-exact distincts per hourly window (the q29 epoch convention);
    // the streaming sketch estimate is engine-internal → TRUE bound
    // booleans (the q187 device).
    "q208_stream_approx_distinct" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
        |   AS win_start,
        | event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS est_ok
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Per-dim means rounded 6, cov entries rounded 8 after the one float
    // sum, then three unrolled max-abs-normalized power steps — every
    // stage re-enters on identical bits (the q133/q196 iteration rule).
    "q209_pca_power" ->
      """WITH e AS (
        | SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
        |  CAST(embedding[i] AS DOUBLE) AS x
        | FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
        |mu AS (SELECT i, round(avg(x), 6) AS m FROM e GROUP BY i),
        |c AS (SELECT e.vec_id, e.i, e.x - mu.m AS xc FROM e JOIN mu USING (i)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
        |cov AS (
        | SELECT a.i, b.i AS j, round(sum(a.xc * b.xc) / (n.n - 1), 8) AS av
        | FROM c a JOIN c b ON a.vec_id = b.vec_id, n
        | GROUP BY a.i, b.i, n.n),
        |v0 AS (SELECT i, 1.0::DOUBLE AS v FROM mu),
        |w1 AS (SELECT cov.i, round(sum(cov.av * v0.v), 8) AS w
        |       FROM cov JOIN v0 ON v0.i = cov.j GROUP BY cov.i),
        |m1 AS (SELECT max(abs(w)) AS m FROM w1),
        |v1 AS (SELECT i, round(w / m, 8) AS v FROM w1, m1),
        |w2 AS (SELECT cov.i, round(sum(cov.av * v1.v), 8) AS w
        |       FROM cov JOIN v1 ON v1.i = cov.j GROUP BY cov.i),
        |m2 AS (SELECT max(abs(w)) AS m FROM w2),
        |v2 AS (SELECT i, round(w / m, 8) AS v FROM w2, m2),
        |w3 AS (SELECT cov.i, round(sum(cov.av * v2.v), 8) AS w
        |       FROM cov JOIN v2 ON v2.i = cov.j GROUP BY cov.i),
        |m3 AS (SELECT max(abs(w)) AS m FROM w3),
        |v3 AS (SELECT i, round(w / m, 8) AS v FROM w3, m3)
        |SELECT i AS dim, round(v, 6) AS loading FROM v3""".stripMargin,
    // Exact cent-scaled long sums per fold, exact complement subtraction,
    // mirrored double slope/intercept, integer-dollar residuals → exact
    // square sums, one mirrored sqrt.
    "q210_cross_validation" ->
      """WITH rows0 AS (
        | SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS y100,
        |  CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
        |    CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
        | FROM lineitem),
        |fs AS (
        | SELECT fold, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y100) AS BIGINT) AS sy,
        |  CAST(sum(x * y100) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM rows0 GROUP BY fold),
        |tot AS (
        | SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sx) AS BIGINT) AS tsx,
        |  CAST(sum(sy) AS BIGINT) AS tsy, CAST(sum(sxy) AS BIGINT) AS tsxy,
        |  CAST(sum(sxx) AS BIGINT) AS tsxx FROM fs),
        |co AS (
        | SELECT fold, tn - n AS ntr, tsx - sx AS tx, tsy - sy AS ty,
        |  tsxy - sxy AS txy, tsxx - sxx AS txx FROM fs, tot),
        |co2 AS (
        | SELECT fold, ntr, tx, ty,
        |  round((CAST(ntr AS DOUBLE) * txy - CAST(tx AS DOUBLE) * ty)
        |    / (CAST(ntr AS DOUBLE) * txx - CAST(tx AS DOUBLE) * tx), 8)
        |    AS slope_c
        | FROM co),
        |co3 AS (
        | SELECT fold, ntr, slope_c,
        |  round((CAST(ty AS DOUBLE) - slope_c * tx) / ntr, 8) AS icept_c
        | FROM co2),
        |r AS (
        | SELECT r0.fold, c.ntr, c.slope_c, c.icept_c,
        |  CAST(round((y100 - (c.icept_c + c.slope_c * x)) / 100) AS BIGINT)
        |    AS rd
        | FROM rows0 r0 JOIN co3 c USING (fold)),
        |ag AS (
        | SELECT fold, ntr, slope_c, icept_c,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(rd * rd) AS BIGINT) AS sr2
        | FROM r GROUP BY 1, 2, 3, 4)
        |SELECT fold, ntr AS n_train, n_test,
        | round(slope_c / 100, 6) AS slope,
        | round(icept_c / 100, 4) AS intercept,
        | round(sqrt(CAST(sr2 AS DOUBLE) / n_test), 6) AS rmse
        |FROM ag""".stripMargin,
    // Same md5 bucket hash; exact counts.
    "q211_feature_hashing" ->
      """WITH w AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT doc_id,
        | CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
        | CAST(count(*) AS BIGINT) AS cnt
        |FROM w GROUP BY 1, 2""".stripMargin,
    // Same bucketed features, 6-dp centroids/norms/dots, argmax replayed
    // as row_number over (score desc, source asc).
    "q212_hash_centroid_classifier" ->
      """WITH tok AS (
        | SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        | FROM documents),
        |feat AS (
        | SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        | FROM tok GROUP BY 1, 2, 3),
        |nsrc AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS nd
        | FROM documents GROUP BY source),
        |cent AS (
        | SELECT f.source AS csrc, f.bucket,
        |  round(CAST(sum(f.cnt) AS DOUBLE) / any_value(n.nd), 6) AS cv
        | FROM feat f JOIN nsrc n USING (source) GROUP BY 1, 2),
        |cnorm AS (
        | SELECT csrc, round(sqrt(sum(cv * cv)), 6) AS cn
        | FROM cent GROUP BY csrc),
        |dots AS (
        | SELECT f.doc_id, f.source, c.csrc,
        |  round(sum(f.cnt * c.cv), 6) AS dot
        | FROM feat f JOIN cent c USING (bucket) GROUP BY 1, 2, 3),
        |scored AS (
        | SELECT d.doc_id, d.source, d.csrc, round(d.dot / n.cn, 6) AS score
        | FROM dots d JOIN cnorm n USING (csrc)),
        |pred AS (
        | SELECT source, csrc AS pred_source FROM (
        |  SELECT source, csrc, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, csrc) AS rn
        |  FROM scored)
        | WHERE rn = 1),
        |cm AS (
        | SELECT source, pred_source, CAST(count(*) AS BIGINT) AS cnt
        | FROM pred GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM cm GROUP BY source)
        |SELECT cm.source, cm.pred_source, cm.cnt,
        | round(CAST(cm.cnt AS DOUBLE) / tot.n, 6) AS frac
        |FROM cm JOIN tot USING (source)""".stripMargin,
    // q26's marker-score CASE chain + the confusion aggregation.
    "q213_lang_id_eval" ->
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
        |b AS (SELECT *, greatest(s_en, s_fr, s_de, s_es) AS best FROM s),
        |p AS (
        | SELECT lang,
        |  CASE WHEN s_en = best AND best > 0 THEN 'en'
        |       WHEN s_fr = best AND best > 0 THEN 'fr'
        |       WHEN s_de = best AND best > 0 THEN 'de'
        |       WHEN s_es = best AND best > 0 THEN 'es'
        |       ELSE 'unknown' END AS lang_pred
        | FROM b),
        |cm AS (
        | SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS cnt
        | FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM cm GROUP BY lang)
        |SELECT cm.lang, cm.lang_pred, cm.cnt,
        | round(CAST(cm.cnt AS DOUBLE) / tot.n, 6) AS frac
        |FROM cm JOIN tot USING (lang)""".stripMargin,
    // epoch_us ≡ unix_micros under the UTC session; integer-DIV file ids
    // and cutoffs; all counts exact; both layouts replayed.
    "q214_file_skipping" ->
      """WITH ext AS (
        | SELECT CAST(min(epoch_us(l_shipdate)) AS BIGINT) AS mn,
        |  CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS mx FROM lineitem),
        |li0 AS (
        | SELECT epoch_us(l_shipdate) AS sd,
        |  l_orderkey // 1000 AS fid_nat,
        |  (epoch_us(l_shipdate) - mn) // (((mx - mn) // 15) + 1) AS fid_clu,
        |  mn + (mx - mn) * 2 // 5 AS lo, mn + (mx - mn) * 3 // 5 AS hi
        | FROM lineitem, ext),
        |matched AS (
        | SELECT CAST(count(*) AS BIGINT) AS rows_matched
        | FROM li0 WHERE sd >= lo AND sd <= hi),
        |fn AS (
        | SELECT fid_nat AS file_id, CAST(min(sd) AS BIGINT) AS fmin,
        |  CAST(max(sd) AS BIGINT) AS fmax, CAST(count(*) AS BIGINT) AS nrows,
        |  CAST(min(lo) AS BIGINT) AS lo, CAST(min(hi) AS BIGINT) AS hi
        | FROM li0 GROUP BY 1),
        |fc AS (
        | SELECT fid_clu AS file_id, CAST(min(sd) AS BIGINT) AS fmin,
        |  CAST(max(sd) AS BIGINT) AS fmax, CAST(count(*) AS BIGINT) AS nrows,
        |  CAST(min(lo) AS BIGINT) AS lo, CAST(min(hi) AS BIGINT) AS hi
        | FROM li0 GROUP BY 1),
        |an AS (
        | SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(CASE WHEN fmax >= lo AND fmin <= hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_scanned,
        |  CAST(sum(nrows) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN fmax >= lo AND fmin <= hi THEN nrows ELSE 0 END)
        |    AS BIGINT) AS rows_scanned
        | FROM fn),
        |ac AS (
        | SELECT 'clustered' AS layout, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(CASE WHEN fmax >= lo AND fmin <= hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_scanned,
        |  CAST(sum(nrows) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN fmax >= lo AND fmin <= hi THEN nrows ELSE 0 END)
        |    AS BIGINT) AS rows_scanned
        | FROM fc),
        |u AS (SELECT * FROM an UNION ALL SELECT * FROM ac)
        |SELECT layout, n_files, files_scanned, rows_total, rows_scanned,
        | rows_matched,
        | round(1.0 - CAST(files_scanned AS DOUBLE) / n_files, 6) AS prune_frac,
        | round(CAST(rows_matched AS DOUBLE) / rows_scanned, 6)
        |   AS scan_efficiency
        |FROM u, matched""".stripMargin,
    // q122's BM25 chain at k=50 (probe doc excluded) + q27's exact
    // cosine for probe 0 vs the rest + the two-term reciprocal fusion.
    "q215_hybrid_rrf" ->
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
        |sp AS (
        | SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |   AS BIGINT) AS r_bm25
        | FROM sc QUALIFY r_bm25 <= 50),
        |spx AS (SELECT doc_id, r_bm25 FROM sp WHERE doc_id <> 0),
        |e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cp AS (
        | SELECT c.vec_id AS doc_id,
        |  list_reduce(list_transform(list_zip(qv, c.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(c.v, x -> x * x), (x, y) -> x + y))) AS cos_sim
        | FROM q CROSS JOIN e c WHERE c.vec_id <> 0),
        |de AS (
        | SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
        |   AS BIGINT) AS r_cos
        | FROM cp QUALIFY r_cos <= 50),
        |f AS (
        | SELECT coalesce(spx.doc_id, de.doc_id) AS doc_id, spx.r_bm25, de.r_cos,
        |  round(coalesce(1.0 / (60 + spx.r_bm25), 0.0)
        |    + coalesce(1.0 / (60 + de.r_cos), 0.0), 6) AS rrf
        | FROM spx FULL OUTER JOIN de ON spx.doc_id = de.doc_id)
        |SELECT doc_id, r_bm25, r_cos, rrf FROM f
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // Same md5 arrival jitter; the naive stream-wide ordered window IS
    // fine oracle-side — the engine computes the identical running max
    // with PrefixSum.
    "q216_lateness_audit" ->
      """WITH ev AS (
        | SELECT event_id, event_type, epoch_us(ts) AS tsu,
        |  epoch_us(ts) + CAST(concat('0x', substr(md5('arr_' || event_id),
        |    1, 8)) AS BIGINT) % 3600000000 - 1800000000 AS arr
        | FROM events),
        |r AS (
        | SELECT event_type, tsu,
        |  CAST(max(tsu) OVER (ORDER BY arr, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
        |    AS runmax
        | FROM ev),
        |l AS (
        | SELECT event_type, tsu, runmax,
        |  runmax IS NOT NULL AND tsu < runmax - 600000000 AS late
        | FROM r)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        | CAST(coalesce(max(CASE WHEN late THEN runmax - 600000000 - tsu END)
        |   // 1000000, 0) AS BIGINT) AS max_late_s
        |FROM l GROUP BY event_type""".stripMargin,
    "q217_cms_freq" ->
      """WITH keyed AS (
        | SELECT event_type || '_' || CAST(user_id % 100 AS VARCHAR) AS key
        | FROM events),
        |h AS (
        | SELECT key, r.i AS i,
        |  CAST(concat('0x', substr(md5('cms_' || r.i || '_' || key), 1, 8))
        |    AS BIGINT) % 256 AS bucket
        | FROM keyed, (SELECT unnest(range(0, 4)) AS i) r),
        |counters AS (SELECT i, bucket, count(*) AS cnt FROM h GROUP BY i, bucket),
        |exact AS (SELECT key, count(*) AS exact_cnt FROM keyed GROUP BY key),
        |probe AS (
        | SELECT e.key, e.exact_cnt, min(c.cnt) AS cms_est
        | FROM exact e, (SELECT unnest(range(0, 4)) AS i) r
        | JOIN counters c ON c.i = r.i
        |  AND c.bucket = CAST(concat('0x',
        |    substr(md5('cms_' || r.i || '_' || e.key), 1, 8)) AS BIGINT) % 256
        | GROUP BY e.key, e.exact_cnt)
        |SELECT key, exact_cnt, cms_est FROM (
        | SELECT key, exact_cnt, cms_est,
        |  row_number() OVER (ORDER BY exact_cnt DESC, key) AS rn FROM probe) t
        |WHERE rn <= 20""".stripMargin,
    "q218_sorted_neighborhood" ->
      """WITH k AS (
        | SELECT doc_id,
        |  substr(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 40) AS nk
        | FROM documents),
        |r AS (
        | SELECT doc_id, nk, row_number() OVER (ORDER BY nk, doc_id) AS rn
        | FROM k)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(jaro_winkler_similarity(a.nk, b.nk), 4) AS sim
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 10
        |WHERE round(jaro_winkler_similarity(a.nk, b.nk), 4) >= 0.9""".stripMargin,
    "q219_skipgram_ppmi" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
        |p0 AS (
        | SELECT unnest(flatten(list_transform([1, 2, 3], k ->
        |   list_transform(generate_series(1, len(t) - k),
        |     i -> struct_pack(w1 := t[i], w2 := t[i + k]))))) AS p
        | FROM tk),
        |pairs AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM p0),
        |cp AS (SELECT w1, w2, count(*) AS cxy FROM pairs
        |       GROUP BY w1, w2 HAVING count(*) >= 5),
        |c1 AS (SELECT w1 AS w, count(*) AS cx FROM pairs GROUP BY w1),
        |c2 AS (SELECT w2 AS w, count(*) AS cy FROM pairs GROUP BY w2),
        |tot AS (SELECT count(*) AS nt FROM pairs)
        |SELECT w1, w2, cxy, ppmi FROM (
        | SELECT w1, w2, cxy,
        |  round(ln(cxy) + ln(nt) - ln(cx) - ln(cy), 4) AS ppmi,
        |  row_number() OVER (ORDER BY
        |    round(ln(cxy) + ln(nt) - ln(cx) - ln(cy), 4) DESC, w1, w2) AS rn
        | FROM cp JOIN c1 ON cp.w1 = c1.w JOIN c2 ON cp.w2 = c2.w, tot
        | WHERE ln(cxy) + ln(nt) - ln(cx) - ln(cy) > 0) t
        |WHERE rn <= 50""".stripMargin,
    // chunk grid derived from the token count (no fixed 16-chunk cap —
    // long docs would silently diverge); keeper is a lexicographic tuple
    // min, exact at any chunk count.
    "q220_chunk_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        | SELECT doc_id, CAST(i.i AS BIGINT) AS idx,
        |  array_to_string(t[16 * i.i + 1 : 16 * i.i + 16], ' ') AS chunk
        | FROM toks CROSS JOIN LATERAL
        |  (SELECT unnest(range(0, (len(t) + 15) // 16)) AS i) i),
        |kept AS (
        | SELECT chunk, min({'doc_id': doc_id, 'idx': idx}) AS keeper
        | FROM chunks GROUP BY chunk)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(sum(CASE WHEN {'doc_id': c.doc_id, 'idx': c.idx} = k.keeper
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | round(CAST(sum(CASE WHEN {'doc_id': c.doc_id, 'idx': c.idx} = k.keeper
        |          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS kept_ratio
        |FROM chunks c JOIN kept k USING (chunk)
        |GROUP BY c.doc_id""".stripMargin,
    "q221_quantile_normalize" ->
      """WITH src AS (
        | SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |    AS rs,
        |  count(*) OVER (PARTITION BY source) AS ns
        | FROM documents),
        |tot AS (SELECT count(*) AS n FROM documents),
        |tgt AS (
        | SELECT doc_id, source, n_chars,
        |  CAST(ceil((rs - 0.5::DOUBLE) / ns * n) AS BIGINT) AS tr
        | FROM src, tot),
        |hist AS (SELECT n_chars AS v, count(*) AS c FROM documents
        |         GROUP BY n_chars),
        |cum AS (
        | SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS hi,
        |        CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT) AS lo
        | FROM hist)
        |SELECT t.doc_id, t.source, t.n_chars, c.v AS norm_chars
        |FROM tgt t JOIN cum c ON t.tr > c.lo AND t.tr <= c.hi""".stripMargin
  )
}
