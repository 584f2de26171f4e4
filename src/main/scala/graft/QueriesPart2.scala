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

/** Queries q84–q141 (58 entries) — LLM-pipeline curation: sequence packing, decontamination, BM25/TF-IDF,
  * incremental dedup, training shuffle/quota/mixing, streaming ops.
  *
  * Pure move from the former monolithic Queries.scala (r13 family split):
  * entry bodies, comments and oracle SQL are byte-identical; only the
  * containing object changed. Merged (and checked disjoint) in [[Queries]].
  */
private[graft] object QueriesPart2 {
  import QueriesBase._

  val queries: Map[String, Q] = Map[String, Q](
    // Sequence packing (concat-and-chop) for LLM pretraining: each doc's
    // global token offset and 2048-token training-sequence id, via the
    // distributed prefix sum in SequencePack (PrefixSum) — the global cumsum
    // WITHOUT the single-partition window the naive `sum() over (ORDER BY)`
    // plans (the oracle runs exactly that naive form; same integers).
    "q84_pack_sequences" -> ((s, d) =>
      graft.text.SequencePack.packOffsets(
        doc(s, d), "doc_id", Text.tokenCount(col("text")), budget = 2048L)),
    // Chunk-level packing: documents SPLIT across sequence boundaries —
    // one row per (sequence, doc-slice), the exact shape a trainer's data
    // loader consumes. Spark side explodes each doc over the sequences it
    // spans; the oracle replays the same slice arithmetic off the naive
    // global cumsum.
    "q85_pack_slices" -> ((s, d) =>
      graft.text.SequencePack.packSlices(
        doc(s, d), "doc_id", Text.tokenCount(col("text")), budget = 2048L)),
    // Forward as-of join: each purchase enriched with the user's NEXT view
    // at-or-after it (q51's mirror — same one-shuffle tagged-union window,
    // descending time). Right side deduped per (user, ts) as in q51 so tie
    // semantics are engine-independent.
    "q86_asof_forward" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"), max(col("value")).as("view_value"))
      operators.AsOfJoin.forward(purchases, views, "user_id", "ts",
          "event_id", "view_id", Seq("view_id", "view_value"))
        .select(col("event_id"), col("view_id_asof"), col("view_value_asof"))
    }),
    // Nearest as-of join: the closer of the backward/forward matches,
    // backward on distance ties — both directions from ONE union and ONE
    // sort (AsOfJoin.nearest). The oracle replays it as two DuckDB ASOF
    // joins + a distance CASE.
    "q87_asof_nearest" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"), max(col("value")).as("view_value"))
      operators.AsOfJoin.nearest(purchases, views, "user_id", "ts",
          "event_id", "view_id", Seq("view_id", "view_value"))
        .select(col("event_id"), col("view_id_asof"), col("view_value_asof"))
    }),
    // Unicode NFC canonicalization — the mandatory first step before any
    // hash-based dedup (composed vs decomposed spellings of one grapheme
    // hash differently). Custom codegen'd expression (Spark has no
    // built-in); exercised against text with a decomposed-é suffix so the
    // normalization is non-trivial, DuckDB nfc_normalize as the twin.
    "q88_nfc_normalize" -> ((s, d) =>
      doc(s, d).select(col("doc_id"),
        graft.functions.NfcNormalize(
          // decomposed "café straße": e + COMBINING ACUTE (U+0301) --
          // NFC must compose it to U+00E9; ß (U+00DF) is NFC-stable
          concat(col("text"), lit(" cafe\u0301 stra\u00dfe")))
          .as("norm_text"))),
    // Gopher-style repetition signal: duplicate 3-gram fraction per doc —
    // no explode/shuffle; counts from the one-pass TextProfile expression
    // (bit-equivalent to the HOF form per TextProfileSpec; 2.5 s → ~0.3 s
    // at sf0.1, and the per-row cost IS the scale cost for a map-only op).
    "q89_repetition" -> ((s, d) =>
      doc(s, d)
        .withColumn("__p", graft.functions.TextProfile(col("text"), 3))
        .select(col("doc_id"),
          col("__p.n_grams").as("total_ngrams"),
          when(col("__p.n_grams") > 0,
            round((col("__p.n_grams") - col("__p.n_distinct_grams")).cast("double") /
              col("__p.n_grams").cast("double"), 6)).otherwise(lit(0.0))
            .as("dup_fraction"))),
    // Per-source quota sampling — training-data curation: keep at most K
    // docs per source, selected by deterministic hash order (md5 of the
    // id, replayable in any engine) so the sample is stable across runs
    // and engines. One shuffle on source; skew bounded by the hottest
    // source like any window — at extreme per-source cardinality the same
    // pattern runs on a salted pre-pass, but the quota semantics ARE a
    // per-key rank, so the window form is the honest baseline.
    "q90_source_quota" -> ((s, d) =>
      doc(s, d)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .filter(col("rk") <= 10)
        .select(col("source"), col("doc_id"), col("rk"))),
    // Backward as-of with a 10-minute tolerance (pandas merge_asof
    // semantics): the left row survives unenriched when its match is
    // farther than the bound — the common "stale quote" guard in
    // time-series enrichment.
    "q91_asof_tolerance" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"), max(col("value")).as("view_value"))
      operators.AsOfJoin.backward(purchases, views, "user_id", "ts",
          "event_id", "view_id", Seq("view_id", "view_value"),
          toleranceSecs = Some(600.0))
        .select(col("event_id"), col("view_id_asof"), col("view_value_asof"))
    }),
    // Z-order (Morton) key over (doc_id, n_chars) — the multi-dimensional
    // clustering key behind io.ZOrder.cluster: pure bit-interleave
    // arithmetic, replayed exactly in DuckDB (sum of disjoint bits == OR).
    // The layout operator itself is ZOrderSpec's territory (file splits
    // are sampling-dependent); the KEY is what must be engine-exact.
    "q92_zorder_key" -> ((s, d) =>
      doc(s, d).select(col("doc_id"),
        graft.io.ZOrder.zValue(Seq(col("doc_id"), col("n_chars")), 16).as("z"))),
    // Per-dimension z-score standardization of the embedding corpus — the
    // ML feature-prep twin of q53: dimension stats are a |dims|-row
    // broadcast, the fact side never shuffles for the join (the only
    // shuffle is the |dims|-group stats agg with map-side partials).
    // The hashed z rides integer 1e-4 units: (x-mu)/sigma is an
    // IEEE-identical double on both engines once mu/sigma are pre-rounded,
    // and round-to-INTEGER of an identical double agrees everywhere
    // (HALF_UP and half-away-from-zero only meet at exact .5 ties, where
    // both go away from zero) — unlike round(z, 4), whose decimal-scale
    // paths differ between engines and flipped boundary values at 2M rows.
    "q93_standardize" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          col("col").cast("double").as("x"))
      // mu/sigma are rounded to 7dp BEFORE the division on both sides:
      // avg/stddev are order-dependent float sums that differ ~1e-15
      // between engines, which can flip the 4th decimal of z on boundary
      // values (the PageRank/k-means intermediate-state rule).
      val stats = e.groupBy("dim")
        .agg(round(avg("x"), 7).as("mu"), round(stddev_samp("x"), 7).as("sigma"))
      e.join(broadcast(stats), "dim")
        .select(col("vec_id"), col("dim"),
          round((col("x") - col("mu")) / col("sigma") * lit(10000.0d))
            .cast("long").as("z_e4"))
    }),
    // Near-dup survivor selection — the curation step AFTER clustering:
    // within each exact-Jaccard connected component keep the "best"
    // document (longest text, lowest id on ties) and record the cluster
    // size. Composes canonicalizeExact with the house arg_min_by hash
    // aggregate (argmax q == argmin -q): one |clusters|-group agg, no
    // window over the corpus.
    "q94_dedup_survivors" -> ((s, d) => {
      val clusters = Dedup.canonicalizeExact(doc(s, d), "text", "doc_id",
        k = 2, jaccardThreshold = 0.5)
      clusters
        .join(doc(s, d).select(col("doc_id"),
          length(col("text")).cast("long").as("q")), "doc_id")
        .groupBy(col("canonical_id"))
        .agg(
          graft.functions.ArgMinBy(col("doc_id"),
            (-col("q")).cast("double"), col("doc_id")).as("keep_id"),
          count(lit(1)).as("cluster_size"),
          max(col("q")).as("keep_len"))
    }),
    // Stream-stream LEFT OUTER interval join: q82's twin with the
    // watermark-gated null emissions — an unmatched click emits nulls
    // only once the global watermark (min of both sides' max ts − 1h)
    // passes the end of its join interval; later clicks stay buffered
    // (they could still match). The gate is deterministic, so the oracle
    // replays it as batch SQL with the same cutoff.
    "q95_stream_left_join" -> ((s, d) =>
      EventsStream.streamStreamLeftJoin(s, d)),
    // Small-file compaction round-trip: scatter documents into 32 tiny
    // files, compact to ~1 file, re-read — the content contract is
    // re-read == original (the q83 pattern); CompactionSpec asserts the
    // file-count mechanics.
    "q96_compact_roundtrip" -> ((s, d) => {
      val docs = doc(s, d)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q96_${s.sparkContext.applicationId}").getAbsolutePath
      docs.repartition(32).write.mode("overwrite").parquet(s"$base/small")
      graft.io.Compact.compact(s, s"$base/small", s"$base/compact",
        targetBytes = 1L << 30)
      graft.Tables.parquet(s, s"$base/compact").select(docs.columns.toIndexedSeq.map(col): _*)
    }),
    // Key-skew profile — the diagnostic before choosing a salting/AQE
    // strategy: per-key counts, then their distribution (exact quantiles
    // over |keys| rows, not the corpus) and the hottest key. One shuffle
    // for the per-key agg; the profile agg runs over |keys| rows.
    "q97_skew_profile" -> ((s, d) => {
      val counts = ev(s, d).groupBy("user_id").agg(count(lit(1)).as("cnt"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"),
        round(expr("percentile(cnt, 0.5)"), 4).as("p50"),
        round(expr("percentile(cnt, 0.9)"), 4).as("p90"),
        round(expr("percentile(cnt, 0.99)"), 4).as("p99"),
        graft.functions.ArgMinBy(col("user_id"),
          (-col("cnt")).cast("double"), col("user_id")).as("top_key"))
    }),
    // Heavy hitters, sketch → exact-verify: the SpaceSaving aggregate
    // condenses each partition to k=256 counters (map-side combine; the
    // shuffle carries k per partition regardless of key cardinality),
    // its superset guarantee (any item with freq > n/k is present,
    // 1/256 < the 0.5% threshold) makes the candidate list complete, and
    // the exact recount of that broadcast candidate set yields the EXACT
    // heavy-hitter relation — which is what the oracle computes.
    "q98_heavy_hitters" -> ((s, d) => {
      val e = ev(s, d)
      val sketch = e.agg(
        graft.functions.SpaceSavingTopK(col("user_id"), 256).as("sk"),
        count(lit(1)).as("n"))
      val cand = sketch.select(explode(col("sk")).as("c"))
        .select(col("c.item").as("user_id"))
      e.join(broadcast(cand), "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(sketch.select(col("n"))))
        .filter(col("cnt") * 200 > col("n"))
        .select(col("user_id"), col("cnt"))
    }),
    // BPE-ish pre-tokenization counts (word/number/punct runs — the usual
    // byte-pair-encoder first pass): total and distinct token counts per
    // doc, pure per-row regex + array arithmetic. The q24 whitespace
    // count's sub-word twin.
    "q99_regex_tokens" -> ((s, d) => {
      val toks = Text.tokenizeRegex(col("text"))
      doc(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_toks"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
    }),
    // The LLM-data-pipeline E2E — the composed flagship, q66's twin for
    // the curation surface: NFC normalize → token/repetition quality gate
    // → exact dedup keep-first → per-source quota → sequence packing.
    // Every stage BINDS on this corpus (dups exist, quota 20 < 25
    // docs/source) and every stage is one of the already-oracled
    // operators, so the chain replays in SQL end-to-end.
    "q100_pipeline_e2e" -> ((s, d) => {
      val normed = doc(s, d)
        .withColumn("text", graft.functions.NfcNormalize(col("text")))
      // Quality inputs from the one-pass TextProfile (bit-equivalent to
      // tokenCount/dupNgramFraction per TextProfileSpec; this map stage
      // dominated the pipeline's per-row cost).
      val qual = normed
        .withColumn("__p", graft.functions.TextProfile(col("text"), 3))
        .withColumn("n_tokens", col("__p.n_tokens"))
        .filter(col("n_tokens") >= 5 &&
          (col("__p.n_grams") === 0 ||
            round((col("__p.n_grams") - col("__p.n_distinct_grams")).cast("double") /
              col("__p.n_grams").cast("double"), 6) <= 0.5))
        .drop("__p")
      // Keep-first dedup as a window over the text hash — one shuffle on
      // md5(text), no keepers table. (The previous broadcast(keepers)
      // semi-join was a corpus-cardinality broadcast: fine at sf0.1, an
      // executor OOM at 100 TB.)
      val ded = qual
        .withColumn("__dk", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("__dk") === 1).drop("__dk")
      val quota = ded
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .filter(col("__rk") <= 20)
      graft.text.SequencePack.packOffsets(
        quota, "doc_id", col("n_tokens"), budget = 2048L)
    }),
    // Stream-stream FULL OUTER interval join — q95 plus the purchase-side
    // gate: a purchase only matches clicks at-or-before it, so its state
    // is final once the watermark reaches its own event time (ts + 1h
    // delay < max ts); the click side keeps q95's interval-end gate.
    "q101_stream_full_join" -> ((s, d) =>
      EventsStream.streamStreamFullJoin(s, d)),
    // Schema evolution: two parquet batches written with DIFFERENT
    // column sets (the long-lived-table reality — producers add fields),
    // read back as one relation via mergeSchema. Spark unions by column
    // name, absent columns null-filled; the oracle builds the same
    // relation explicitly. mergeSchema costs a footer pass per file at
    // planning — acceptable at write-batch granularity, and the committed
    // layout answer at scale is a declared catalog schema; this query
    // pins the read semantics.
    "q102_schema_evolution" -> ((s, d) => {
      val docs = doc(s, d)
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q102_${s.sparkContext.applicationId}").getAbsolutePath
      docs.select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$base/v1")
      docs.select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),
    // Length-weighted sampling — curation that preferentially keeps
    // longer documents: keep with probability min(1, n_tokens/80), decided
    // by a DETERMINISTIC per-doc uniform (first 8 md5 hex digits / 2^32 —
    // replayable in any engine, stable across runs; no rand()). The
    // u < p comparison uses one correctly-rounded double division per
    // side, so the kept set is engine-exact.
    "q103_weighted_sample" -> ((s, d) => {
      val n = Text.tokenCount(col("text"))
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long").cast("double") / lit(4294967296.0)
      doc(s, d)
        .select(col("doc_id"), n.as("n_tokens"), u.as("u"))
        .filter(col("u") < least(lit(1.0), col("n_tokens").cast("double") / lit(80.0)))
        .select(col("doc_id"), col("n_tokens"))
    }),
    // Curriculum binning — difficulty buckets WITHOUT a global sort:
    // exact quartile cutpoints (one tiny agg, broadcast as a 1-row cross
    // join) and a counting CASE per row. The ntile() a naive version
    // would use is a single-partition window over the corpus — the q84
    // scale cliff; cutpoint binning is the 100 TB shape.
    "q104_curriculum_bins" -> ((s, d) => {
      val base = doc(s, d).select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"))
      val cuts = base.agg(
        expr("percentile(n_tokens, 0.25)").as("q1"),
        expr("percentile(n_tokens, 0.5)").as("q2"),
        expr("percentile(n_tokens, 0.75)").as("q3"))
      base.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_tokens"),
          (lit(1L) + (col("n_tokens") > col("q1")).cast("long")
            + (col("n_tokens") > col("q2")).cast("long")
            + (col("n_tokens") > col("q3")).cast("long")).as("bucket"))
    }),
    // Distributed Lloyd's k-means, 2 fixed iterations over the embedding
    // corpus (k=8, deterministic lowest-id init): assignment is a pure
    // column expression per row, the update collects only the k x dims
    // rounded-mean centroid table — the corpus never leaves executors.
    // Every arithmetic step is engine-replayable (sequential distance
    // folds, 6-dp centroid rounding as the float-parity seam), so the
    // oracle recomputes BOTH iterations in SQL.
    "q105_kmeans" -> ((s, d) =>
      graft.ml.KMeans.lloyd(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 8, iters = 2)),
    // IVF-flat ANN with TRAINED centroids — q73's production upgrade: the
    // coarse quantizer is k-means over the corpus (q105's machinery), so
    // cells follow the data distribution; L2 cell assignment + probe,
    // cosine re-rank inside probed cells. The oracle replays training,
    // assignment, probing and re-ranking end-to-end.
    "q106_ann_ivf_trained" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTrainedTopK(
        e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", k = 5, nCells = 8, nProbe = 3, trainIters = 2)
        .withColumnRenamed("rank", "rnk")
    }),
    // Eval-set decontamination (the GPT-3-style n-gram overlap filter):
    // docs with doc_id % 100 == 0 stand in for the held-out benchmark;
    // the rest of the corpus is annotated with its distinct shared-gram
    // count. Eval grams are a broadcast distinct set — a map-side
    // semi-join, zero corpus shuffle.
    "q107_decontaminate" -> ((s, d) => {
      val docs = doc(s, d)
      graft.text.Decontaminate.flagContaminated(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", k = 3)
        .select(col("doc_id"), col("shared_grams"), col("contaminated"))
    }),
    // SemDeDup — semantic (embedding-space) dedup: k-means clusters
    // (q105's engine-replayable Lloyd's), pairwise cosine INSIDE each
    // cluster only, lowest-id survivor. Near-duplicates injected the
    // q69 way so the flagged set is non-trivial; the oracle replays
    // train → assign → pairwise → flag end-to-end. Each copy is generated
    // next to its original from ONE embeddings scan (an explode, not a
    // union of two scans), so every plan over the corpus reads it once.
    "q108_semdedup" -> ((s, d) => {
      val v = transform(col("embedding"), _.cast("double"))
      val orig = struct(col("vec_id"), v.as("embedding"))
      val copy = struct((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(v, 1) + lit(0.05)), slice(v, 2, 63)).as("embedding"))
      val e = Tables.embeddings(s, d)
        .select(explode(when(col("vec_id") % 50 === 0, array(orig, copy))
          .otherwise(array(orig))).as("r"))
        .select(col("r.vec_id").as("vec_id"), col("r.embedding").as("embedding"))
      graft.dedup.SemDedup.semDedup(e, "vec_id", "embedding",
        k = 8, trainIters = 2, threshold = 0.99)
    }),
    // ORC round-trip — the Hive-era columnar format, source-coverage twin
    // of q72 (CSV) / q83 (JSONL): declared-schema read back of what was
    // written must equal the original relation.
    "q109_orc_roundtrip" -> ((s, d) => {
      val docs = doc(s, d)
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q109_orc_${s.sparkContext.applicationId}").getAbsolutePath
      graft.io.Orc.write(docs, dir)
      graft.io.Orc.read(s, dir, docs.schema).select(docs.columns.map(col): _*)
    }),
    // Deterministic per-epoch training shuffle: md5(seed ‖ id) order key,
    // global rank via PrefixSum's read-once scan — no rand(), no single-
    // partition corpus-wide window.
    "q110_training_shuffle" -> ((s, d) =>
      graft.operators.TrainingShuffle.shuffleRank(
        doc(s, d).select(col("doc_id")), "doc_id", seed = "epoch1")),
    // Robust per-group outlier flags: median/MAD cut (50% breakdown
    // point) over per-lang token counts — two grouped exact-median aggs,
    // group tables broadcast back; integer inputs make every comparison
    // IEEE-exact with no rounding seam.
    "q111_mad_outliers" -> ((s, d) =>
      Stats.madOutliers(
        doc(s, d).select(col("doc_id"), col("lang"),
          Text.tokenCount(col("text")).as("n_tokens")),
        Seq("lang"), "n_tokens", cutoff = 3.0)),
    // RAG chunking: sliding token windows (window 50, stride 30) per doc
    // — overlapping chunks so no retrieval context straddles a hard cut.
    // Pure codegen'd explode arithmetic (starts 0,30,… while < n_tokens,
    // length clipped at the doc end), no shuffle anywhere.
    "q112_chunk_overlap" -> ((s, d) =>
      doc(s, d)
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"))
        .where(col("n_tokens") > 0)
        .withColumn("chunk_start",
          explode(sequence(lit(0L), col("n_tokens") - 1, lit(30L))))
        .select(col("doc_id"),
          expr("chunk_start DIV 30").as("chunk_id"),
          col("chunk_start"),
          least(lit(50L), col("n_tokens") - col("chunk_start")).as("chunk_len"))),
    // Exact stratified train/val/test split: 80/10/10 WITHIN each lang
    // stratum, membership decided by deterministic md5 rank — stable
    // across runs/engines, exact per-stratum proportions (integer
    // arithmetic: rk*10 <= n*8), no rand(). Per-stratum window ranks,
    // parallel across strata (the q90 shape).
    "q113_stratified_split" -> ((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      doc(s, d).select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("nl", count(lit(1)).over(Window.partitionBy("lang")))
        .select(col("doc_id"), col("lang"),
          when(col("rk") * 10 <= col("nl") * 8, "train")
            .when(col("rk") * 10 <= col("nl") * 9, "val")
            .otherwise("test").as("split"))
    }),
    // Cross-batch incremental dedup — the nightly-ingest gate: an
    // incoming batch is admitted only where its content fingerprint does
    // not already exist in the corpus. Anti-join on the fingerprint (md5
    // here so the oracle replays it; production swaps xxhash64): one
    // shuffle of 16-byte fingerprints, never of text. Exact duplicates
    // injected (q69's convention) so the gate provably rejects.
    "q114_incremental_dedup" -> ((s, d) => {
      val docs = doc(s, d)
      val cols = docs.columns
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val incoming = docs.filter(col("doc_id") % 10 === 7)
        .unionByName(docs.filter(col("doc_id") % 25 === 3)
          .select((cols.map {
            case "doc_id" => (col("doc_id") + 100000).as("doc_id")
            case c        => col(c)
          }).toIndexedSeq: _*))
      incoming.withColumn("fp", md5(col("text")))
        .join(corpus.select(md5(col("text")).as("fp")).distinct(),
          Seq("fp"), "left_anti")
        .select("doc_id")
    }),
    // Streaming heavy hitters, lambda shape: per-window SpaceSaving
    // sketch as the streaming state (k counters per open window), exact
    // batch recount of the emitted candidate set — provably exact for
    // the 0.5% threshold since k=256 ≥ 200.
    "q115_stream_heavy_hitters" -> ((s, d) =>
      EventsStream.windowedHeavyHitters(s, d)),
    // Vocabulary construction — tokenizer training's first step: corpus
    // token frequencies, deterministic (freq desc, token asc) rank, top V
    // become vocab ids 1..V. The global order is TakeOrderedAndProject
    // (parallel partial top-V heaps, no full sort); the rank window then
    // runs over the V surviving rows only — the W3 tiny-result shape, not
    // a corpus-wide window.
    "q116_vocab" -> ((s, d) => {
      val counts = doc(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      counts.orderBy(col("freq").desc, col("token").asc).limit(256)
        .withColumn("vocab_id", row_number().over(
          Window.orderBy(col("freq").desc, col("token").asc)).cast("long"))
    }),
    // OOV rate per document against the q116 vocabulary — the coverage
    // metric a tokenizer-training loop iterates on. Vocab (V rows) is
    // broadcast; the corpus-side check is a map-side hash join on the
    // exploded token stream, then one per-doc agg.
    "q117_oov_rate" -> ((s, d) => {
      // V = 16 < the corpus's distinct-token count, so the OOV path is
      // non-trivially exercised (V = 256 would cover every token here).
      val vocab = doc(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc).limit(16)
        .select(col("token"), lit(1L).as("__in_vocab"))
      doc(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
    }),
    // Inverted-index posting relation (token, doc_id, pos) — the
    // substrate of phrase search / exact-match retrieval. posexplode is
    // codegen'd projection work, no shuffle; at scale the relation is
    // written bucketed by token (io/Bucketing) so lookups are
    // shuffle-free.
    "q118_postings" -> ((s, d) =>
      doc(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("col").as("token"), col("doc_id"),
          col("pos").cast("long").as("pos"))),
    // Matryoshka two-stage retrieval: coarse rank on the 16-dim embedding
    // PREFIX (a 4× narrower scan at the storage layer), exact full-dim
    // rerank on the per-query shortlist only. Deterministic candidate cut
    // ⇒ exactly oracle-replayable.
    "q119_matryoshka_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.matryoshkaTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
          "vec_id", "embedding", 5, coarseDim = 16, candidates = 20)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          round(col("cos_sim"), 6).as("cos_sim"))
    }),
    // Binary sign-quantized ANN: 1 bit/dim (16× under float32), Hamming
    // candidate scan as popcount-of-XOR over two longs, exact cosine
    // rerank of the shortlist. Integer ranking keys ⇒ deterministic cut.
    "q120_binary_hamming" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.binaryHammingTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
          "vec_id", "embedding", 5, dim = 64, candidates = 20)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"),
          col("hamming"), round(col("cos_sim"), 6).as("cos_sim"))
    }),
    // Temperature-scaled source mixing (τ = 1/2): per-source targets
    // ∝ √n_s flatten the natural source distribution; selection is
    // rank-by-md5 — reproducible, engine-neutral, no RNG.
    "q121_temperature_mix" -> ((s, d) =>
      Mixing.temperatureMix(doc(s, d), "source", "doc_id", 200)),
    // BM25 lexical retrieval — the term-weighting complement to the ANN
    // family; postings-shaped (q79/q118), corpus scalars on a broadcast
    // 1-row cross join, global top-k via TakeOrderedAndProject.
    "q122_bm25" -> ((s, d) =>
      graft.text.Bm25.topK(doc(s, d), "doc_id", "text",
        Seq("vector", "join", "scan"), 20)),
    // Per-source quality pruning: drop each source's bottom length
    // quartile — exact per-group percentile cutpoints (tiny agg,
    // broadcast back), then a map-side filter; no corpus-wide ntile.
    "q123_quality_prune" -> ((s, d) => {
      val base = doc(s, d).select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).as("n_tokens"))
      val cuts = base.groupBy("source")
        .agg(expr("percentile(n_tokens, 0.25)").as("q1"))
      base.join(broadcast(cuts), Seq("source"))
        .filter(col("n_tokens") > col("q1"))
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }),
    // Near-dup canonicalization keeping the BEST-quality representative
    // (not the lowest id): clusters from the exact-Jaccard connected
    // components (q70), representative = argmax (n_chars desc, doc_id
    // asc) per cluster — what a curation pipeline actually keeps.
    // Integer ranking keys ⇒ exactly oracle-replayable.
    "q124_cluster_best" -> ((s, d) => {
      val canon = Dedup.canonicalizeExact(doc(s, d), "text", "doc_id",
        k = 2, jaccardThreshold = 0.5)
      val w = Window.partitionBy("canonical_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      doc(s, d).select(col("doc_id"), col("n_chars"))
        .join(canon, Seq("doc_id"))
        .withColumn("__r", row_number().over(w))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("canonical_id")))
        .filter(col("__r") === 1)
        .select(col("canonical_id"), col("doc_id").as("kept_doc_id"),
          col("n_chars").as("kept_n_chars"), col("cluster_size"))
    }),
    // Unigram log-probability scoring (the CCNet-style LM-quality
    // signal): mean ln p(token) under the corpus unigram distribution.
    // Token freqs are one hash agg; the per-doc mean is a second agg over
    // the postings join; ln is libm → rounded 4 dp per the parity rule.
    "q125_unigram_logprob" -> ((s, d) => {
      val postings = doc(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val freqs = postings.groupBy("token").agg(count(lit(1)).as("freq"))
      val total = postings.agg(count(lit(1)).as("total"))
      postings.join(freqs, Seq("token"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(
          sum(log(col("freq").cast("double") / col("total"))) / count(lit(1)),
          4).as("avg_logprob"))
    }),
    // Exactly-once streaming file sink: foreachBatch + idempotent
    // per-batch-id overwrite; the stream runs TWICE (simulated retry) —
    // an appending sink would double every row and fail the hash.
    "q126_stream_exactly_once" -> ((s, d) =>
      EventsStream.idempotentSinkCounts(s, d)),
    // MERGE-style snapshot upsert: a deterministic changeset (updates for
    // doc_id%10==0, deletes for %10==1, 3 inserts) applied via
    // anti-join ∪ upserts — the logical core of Delta/Iceberg merge.
    "q127_upsert_snapshot" -> ((s, d) => {
      val snap = doc(s, d)
      val updates = snap.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("source", lit("updated"))
        .withColumn("op", lit("update"))
      val deletes = snap.filter(col("doc_id") % 10 === 1)
        .withColumn("op", lit("delete"))
      val inserts = s.range(3).select(
        (col("id") + 1000000L).as("doc_id"),
        concat(lit("new doc "), col("id")).as("text"),
        lit("en").as("lang"),
        lit("ingest").as("source"),
        length(concat(lit("new doc "), col("id"))).cast("long").as("n_chars"),
        lit("insert").as("op"))
      graft.operators.Upsert(snap,
        updates.unionByName(deletes).unionByName(inserts), "doc_id")
    }),
    // SCD2 history build: changelog → [valid_from, valid_to) validity
    // intervals per key via one lead window (total order on (ts,
    // event_id)); pairs with the as-of joins for point-in-time lookups.
    "q128_scd2" -> ((s, d) =>
      graft.operators.Scd2.intervals(
          ev(s, d).select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
          "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("valid_from")).as("valid_from_s"),
          unix_timestamp(col("valid_to")).as("valid_to_s"),
          col("is_current"))),
    // Fuzzy entity matching: min-edit-distance lookup of misspelled names
    // against a dimension table — the data-cleaning complement to exact
    // isin (q04). The dimension is broadcast; levenshtein is a codegen'd
    // built-in on both engines with the identical classic DP definition.
    "q129_fuzzy_match" -> ((s, d) => {
      // misspellings of the synthetic NATION_N names, chosen so each
      // argmin is unique (one deletion/insertion/substitution/transposition)
      val probes = s.range(1).select(explode(array(
        Seq("NATIN_3", "NATIONN_8", "MATION_19", "NATI0N_21", "NATOIN_14")
          .map(lit): _*)).as("probe"))
      val nat = Tables.nation(s, d).select(col("n_name"))
      val w = Window.partitionBy("probe")
        .orderBy(col("dist").asc, col("n_name").asc)
      probes.crossJoin(broadcast(nat))
        .withColumn("dist", levenshtein(col("probe"), col("n_name")).cast("long"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("probe"), col("n_name").as("best_name"), col("dist"))
    }),
    // Distribution-analytic window functions — percent_rank / cume_dist /
    // ntile per group over a TOTAL (price, key) order, so the doubles are
    // exact small-integer ratios and replay bit-for-bit. Groups hash
    // across executors; no global window.
    "q130_analytic_ranks" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      ord(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
    }),
    // Unpivot/melt: wide measure columns → (measure, value) rows — the
    // inverse of q45's pivot; pure projection+generate, no shuffle.
    "q131_unpivot" -> ((s, d) =>
      li(s, d).filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")),
    // Time-series resampling with gap fill: per-entity hourly grid from
    // its own [min, max] span (sequence+explode — no driver loop), left
    // join of observed counts, zero-fill. The grid is generated, never
    // stored; at scale both sides shuffle on (entity, hour).
    "q132_resample" -> ((s, d) => {
      val e = ev(s, d).filter(col("user_id") < 30)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
          col("value"))
      val span = e.groupBy("user_id")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      val grid = span.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("hour"))
      val obs = e.groupBy("user_id", "hour")
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"))
      grid.join(obs, Seq("user_id", "hour"), "left")
        .select(col("user_id"), unix_timestamp(col("hour")).as("hour_s"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          round(coalesce(col("sv"), lit(0.0)), 4).as("sum_value"))
    }),
    // PageRank over the symmetrized customer↔supplier purchase graph —
    // iterative compute #3 (after k-means and CC), engine-replayable via
    // per-iteration rounding (the q105 rule). Symmetrizing removes
    // dangling mass and the two node-id ranges are disjoint by the +1e6
    // offset.
    "q133_pagerank" -> ((s, d) => {
      val eo = ord(s, d).select(col("o_orderkey"), col("o_custkey"))
        // measured at sf100 (r16): a shuffled-hash build on the unique
        // orders side trades the lineitem SMJ sort for hash-build CPU and
        // LOSES (wall 223 -> 294 s, cpu +30%, spill only -10%) — the
        // planner's sort-merge is the right construction join here
        .join(li(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 1000000L).as("supp"))
      // explode-symmetrize (graph/EdgeLayout): both directions emitted
      // in ONE pass over the construction join — a union of two swapped
      // projections would recompute the orders⋈lineitem sort-merge per
      // branch inside the edge repartition's map stage. Dedup rides
      // iterate()'s checkpoint repartition(src) as a streaming window,
      // so one full-edge shuffle replaces the old distinct-then-
      // repartition pair; the +1e6 offset keeps id ranges disjoint
      val edges = graft.graph.EdgeLayout.symmetrize(eo, "cust", "supp")
      graft.graph.PageRank.iterate(edges, iters = 2)
        .select(col("node"), round(col("pr"), 6).as("pr"))
    }),
    // Tie-corrected (mid-rank) Mann-Whitney AUC of `value` as a score for
    // the click label. Every term is an exact multiple of 0.5 below 2^52,
    // so all sums are IEEE-exact and ORDER-INDEPENDENT — bit parity with
    // no rounding seam. The only ordered scan is the exclusive prefix sum
    // over the DISTINCT-value table (GlobalRank — no global row window).
    "q134_auc" -> ((s, d) => {
      val sc = ev(s, d).select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("lab"))
      val g = sc.groupBy("value")
        .agg(count(lit(1)).as("cnt"), sum(col("lab")).as("npos_v"))
      val c = graft.operators.GlobalRank.exclusivePrefixSum(g, "value", "cnt")
      val scalars = sc.agg(sum(col("lab")).as("npos"),
        (count(lit(1)) - sum(col("lab"))).as("nneg"))
      c.agg(sum(col("npos_v") *
          (col("cum_before") + (col("cnt") + 1) / lit(2.0))).as("rsum"))
        .crossJoin(broadcast(scalars))
        .select(
          round((col("rsum") - col("npos").cast("double") * (col("npos") + 1) / 2)
            / (col("npos").cast("double") * col("nneg")), 6).as("auc"),
          col("npos"), col("nneg"))
    }),
    // Calibration / reliability bins: equal-width score bins over the
    // observed [min, max] (broadcast bounds), per-bin positive rate (an
    // exact integer ratio — no rounding) and mean score (rounded).
    "q135_calibration_bins" -> ((s, d) => {
      val b = ev(s, d).agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      ev(s, d).crossJoin(broadcast(b))
        .select(
          least(lit(9L), floor((col("value") - col("mn"))
            / ((col("mx") - col("mn")) / lit(10))).cast("long")).as("bin"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("lab"),
          col("value"))
        .groupBy("bin")
        .agg(count(lit(1)).as("cnt"),
          (sum(col("lab")).cast("double") / count(lit(1))).as("pos_rate"),
          round(sum(col("value")) / count(lit(1)), 4).as("mean_value"))
    }),
    // Funnel analysis: per (user, day), the ordered view→click→purchase
    // progression as three chained min-timestamp aggregations (each stage
    // = one hash join + one grouped min on the (user, day) key — no
    // per-row state machine, no window); strict > means a later stage
    // must strictly follow the previous one.
    "q136_funnel" -> ((s, d) => {
      val e = ev(s, d).select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("d"),
        col("ts"), col("event_type"))
      val groups = e.select("user_id", "d").distinct()
      val g1 = e.filter(col("event_type") === "view")
        .groupBy("user_id", "d").agg(min(col("ts")).as("f1"))
      val g2 = e.join(g1, Seq("user_id", "d"))
        .filter(col("event_type") === "click" && col("ts") > col("f1"))
        .groupBy("user_id", "d").agg(min(col("ts")).as("f2"))
      val g3 = e.join(g2, Seq("user_id", "d"))
        .filter(col("event_type") === "purchase" && col("ts") > col("f2"))
        .groupBy("user_id", "d").agg(min(col("ts")).as("f3"))
      groups
        .join(g1, Seq("user_id", "d"), "left")
        .join(g2, Seq("user_id", "d"), "left")
        .join(g3, Seq("user_id", "d"), "left")
        .groupBy("d")
        .agg(count(lit(1)).as("n_groups"),
          count(col("f1")).as("reached_view"),
          count(col("f2")).as("reached_click"),
          count(col("f3")).as("reached_purchase"))
    }),
    // Retention cohorts: cohort = a user's first active week, retention
    // cell (cohort, k) = distinct users active k weeks later — two hash
    // aggs + one broadcast-joinable first-week table; all-integer
    // arithmetic (epoch-week via integer division).
    "q137_retention" -> ((s, d) => {
      val wk = ev(s, d).select(col("user_id"),
        expr("unix_timestamp(ts) div 604800").as("wk")).distinct()
      // First-week via a window on the same user_id partitioning — one
      // shuffle, no per-user broadcast table (which is corpus-cardinality
      // and would OOM at 100 TB).
      val cohort = wk.withColumn("cohort_wk",
        min(col("wk")).over(Window.partitionBy(col("user_id"))))
      cohort
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    }),
    // Incremental NEAR-dup admission (q114's exact twin, approximate
    // family): the batch (doc_id%7==0) probes the corpus's MinHash band
    // index; md5/mod-p family so the whole pipeline replays in SQL.
    "q138_incremental_minhash" -> ((s, d) =>
      Dedup.incrementalMinHash(
        doc(s, d).filter(col("doc_id") % 7 =!= 0),
        doc(s, d).filter(col("doc_id") % 7 === 0),
        "text", "doc_id", k = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, family = "md5p61")),
    // Higher distribution moments per group from ONE pass of power sums
    // (Σx..Σx⁴ — map-side-combinable aggs); skewness/kurtosis assembled
    // from raw sums with sqrt-only arithmetic (v^1.5 = v·√v, no pow),
    // rounded 4 dp per the float-sum parity rule.
    "q139_moments" -> ((s, d) => {
      val x = col("l_quantity")
      val g = li(s, d).groupBy("l_returnflag").agg(
        count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
      val mean = col("s1") / col("n")
      val v = col("s2") / col("n") - mean * mean
      val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
        lit(2.0) * mean * mean * mean
      val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
        lit(6.0) * mean * mean * (col("s2") / col("n")) -
        lit(3.0) * mean * mean * mean * mean
      g.select(col("l_returnflag"), col("n"),
        round(mean, 4).as("mean"), round(v, 4).as("variance"),
        round(m3 / (v * sqrt(v)), 4).as("skewness"),
        round(m4 / (v * v) - lit(3.0), 4).as("kurtosis_excess"))
    }),
    // Shannon entropy of each user's event-type mix — the categorical
    // concentration profile (behavioral diversity signal). Two hash aggs;
    // ln is libm → rounded 4 dp.
    "q140_type_entropy" -> ((s, d) => {
      val c = ev(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val tot = c.groupBy("user_id").agg(sum(col("cnt")).as("n_events"))
      val p = col("cnt").cast("double") / col("n_events")
      c.join(tot, Seq("user_id"))
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          round(-sum(p * log(p)), 4).as("entropy"))
    }),
    // Batch FULL OUTER join (the remaining join-type surface beside
    // inner/left/semi/anti/intersect/except): per-nation customer vs
    // supplier counts with deliberately disjoint filters so both
    // null-extension sides are exercised; key coalesced from both sides.
    "q141_full_outer" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_nationkey") >= 5)
        .groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("cust_cnt"))
      val sp = Tables.supplier(s, d).filter(col("s_nationkey") < 15)
        .groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("supp_cnt"))
      c.join(sp, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          col("cust_cnt"), col("supp_cnt"))
    })
  )

  val oracle: Map[String, String] = Map(
    // The naive single-window global cumsum — the semantics the
    // distributed prefix sum must reproduce integer-for-integer.
    "q84_pack_sequences" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM d)
        |SELECT doc_id, n_tokens,
        | CAST(cum - n_tokens AS BIGINT) AS start_offset,
        | CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id
        |FROM c""".stripMargin,
    // Same naive cumsum, then each document unnested over the sequences it
    // spans; slice_start is the offset WITHIN the document.
    "q85_pack_slices" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM d),
        |s AS (
        | SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS so
        | FROM c WHERE n_tokens > 0),
        |x AS (
        | SELECT doc_id, n_tokens, so,
        |  unnest(range(so // 2048, (so + n_tokens - 1) // 2048 + 1)) AS seq_id
        | FROM s)
        |SELECT seq_id, doc_id,
        | greatest(so, seq_id * 2048) - so AS slice_start,
        | least(so + n_tokens, (seq_id + 1) * 2048)
        |   - greatest(so, seq_id * 2048) AS slice_len
        |FROM x""".stripMargin,
    "q86_asof_forward" ->
      """WITH purchases AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |views AS (
        | SELECT user_id, ts, max(event_id) AS view_id, max(value) AS view_value
        | FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT p.event_id, v.view_id AS view_id_asof, v.view_value AS view_value_asof
        |FROM purchases p
        |ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts >= p.ts""".stripMargin,
    // Nearest = closer of the two directed matches; distance compared in
    // epoch seconds (double) on both engines, backward wins ties.
    "q87_asof_nearest" ->
      """WITH purchases AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |views AS (
        | SELECT user_id, ts, max(event_id) AS view_id, max(value) AS view_value
        | FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |b AS (
        | SELECT p.event_id, p.ts, v.ts AS bts, v.view_id AS b_id, v.view_value AS b_val
        | FROM purchases p
        | ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts <= p.ts),
        |f AS (
        | SELECT p.event_id, v.ts AS fts, v.view_id AS f_id, v.view_value AS f_val
        | FROM purchases p
        | ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts >= p.ts)
        |SELECT b.event_id,
        | CASE WHEN b_id IS NULL THEN f_id
        |      WHEN f_id IS NULL THEN b_id
        |      WHEN epoch(fts) - epoch(b.ts) < epoch(b.ts) - epoch(bts) THEN f_id
        |      ELSE b_id END AS view_id_asof,
        | CASE WHEN b_id IS NULL THEN f_val
        |      WHEN f_id IS NULL THEN b_val
        |      WHEN epoch(fts) - epoch(b.ts) < epoch(b.ts) - epoch(bts) THEN f_val
        |      ELSE b_val END AS view_value_asof
        |FROM b JOIN f USING (event_id)""".stripMargin,
    // chr(769) = U+0301 COMBINING ACUTE, chr(223) = ß — the same
    // decomposed suffix the Spark side appends; both engines must compose
    // the e+accent to U+00E9 and leave ß alone.
    "q88_nfc_normalize" ->
      """SELECT doc_id,
        | nfc_normalize(text || ' cafe' || chr(769) || ' stra' || chr(223) || 'e')
        |   AS norm_text
        |FROM documents""".stripMargin,
    "q89_repetition" ->
      """WITH t AS (
        | SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) >= 3
        |   THEN list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))
        |   ELSE [] END AS grams
        | FROM t)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS total_ngrams,
        | CASE WHEN len(grams) > 0
        |  THEN round((len(grams) - len(list_distinct(grams)))
        |        / CAST(len(grams) AS DOUBLE), 6)
        |  ELSE 0.0 END AS dup_fraction
        |FROM g""".stripMargin,
    "q90_source_quota" ->
      """SELECT source, doc_id, rk FROM (
        | SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        | FROM documents)
        |WHERE rk <= 10""".stripMargin,
    "q91_asof_tolerance" ->
      """WITH purchases AS (
        | SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |views AS (
        | SELECT user_id, ts, max(event_id) AS view_id, max(value) AS view_value
        | FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |j AS (
        | SELECT p.event_id, p.ts, v.ts AS vts, v.view_id, v.view_value
        | FROM purchases p
        | ASOF LEFT JOIN views v ON p.user_id = v.user_id AND v.ts <= p.ts)
        |SELECT event_id,
        | CASE WHEN epoch(ts) - epoch(vts) <= 600 THEN view_id END AS view_id_asof,
        | CASE WHEN epoch(ts) - epoch(vts) <= 600 THEN view_value END
        |   AS view_value_asof
        |FROM j""".stripMargin,
    // Disjoint bit positions, so list_sum == bitwise OR; CAST guards the
    // HUGEINT promotion per the house rule.
    "q92_zorder_key" ->
      """SELECT doc_id,
        | CAST(list_sum(list_transform(range(0, 16), i ->
        |   (((doc_id >> i) & 1) << (2 * i))
        |   + (((n_chars >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
        |FROM documents""".stripMargin,
    // z in integer 1e-4 units: round-to-integer of the identical double
    // (x-mu)/sigma*1e4 — the only rounding mode both engines share exactly.
    "q93_standardize" ->
      """WITH e AS (
        | SELECT vec_id, CAST(d.i AS BIGINT) AS dim,
        |  CAST(embedding[d.i] AS DOUBLE) AS x
        | FROM embeddings, (SELECT unnest(range(1, 65)) AS i) d),
        |s AS (
        | SELECT dim, round(avg(x), 7) AS mu, round(stddev_samp(x), 7) AS sigma
        | FROM e GROUP BY dim)
        |SELECT vec_id, dim,
        | CAST(round((x - mu) / sigma * 10000.0) AS BIGINT) AS z_e4
        |FROM e JOIN s USING (dim)""".stripMargin,
    // q70's recursive-CTE clustering + a longest-text/lowest-id survivor
    // pick per component (count(*) OVER is BIGINT in DuckDB — no HUGEINT).
    "q94_dedup_survivors" ->
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
        |cl AS (
        | SELECT node AS doc_id, min(label) AS canonical_id
        | FROM cc GROUP BY node),
        |scored AS (
        | SELECT cl.canonical_id, cl.doc_id,
        |  CAST(length(d.text) AS BIGINT) AS q
        | FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
        |SELECT canonical_id, doc_id AS keep_id, cnt AS cluster_size,
        | q AS keep_len
        |FROM (
        | SELECT canonical_id, doc_id, q,
        |  row_number() OVER (PARTITION BY canonical_id
        |    ORDER BY q DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY canonical_id) AS cnt
        | FROM scored)
        |WHERE rn = 1""".stripMargin,
    // The left-outer gate: nulls exactly for unmatched clicks whose join
    // interval end (click_ts + 1h) is below the final watermark
    // (min(max click ts, max purchase ts) − 1h) — i.e. ts + 2h < mx.
    "q95_stream_left_join" ->
      """WITH c AS (
        | SELECT event_id AS click_id, user_id, ts FROM events
        | WHERE event_type = 'click'),
        |p AS (
        | SELECT event_id AS purchase_id, user_id, ts, value FROM events
        | WHERE event_type = 'purchase'),
        |m AS (
        | SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) AS mx),
        |matched AS (
        | SELECT c.user_id, c.click_id, p.purchase_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT)
        |    AS secs_to_purchase,
        |  p.value AS purchase_value
        | FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |unmatched AS (
        | SELECT c.user_id, c.click_id,
        |  CAST(NULL AS BIGINT) AS purchase_id,
        |  CAST(NULL AS BIGINT) AS secs_to_purchase,
        |  CAST(NULL AS DOUBLE) AS purchase_value
        | FROM c, m
        | WHERE NOT EXISTS (SELECT 1 FROM p
        |   WHERE p.user_id = c.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        |  AND c.ts + INTERVAL 2 HOUR < m.mx)
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched""".stripMargin,
    "q96_compact_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // quantile_cont == Spark's exact percentile (the q12 parity pattern);
    // hottest key = min key among those at the max count.
    "q97_skew_profile" ->
      """WITH c AS (
        | SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        | CAST(max(cnt) AS BIGINT) AS max_cnt,
        | round(quantile_cont(cnt, 0.5), 4) AS p50,
        | round(quantile_cont(cnt, 0.9), 4) AS p90,
        | round(quantile_cont(cnt, 0.99), 4) AS p99,
        | CAST(min(user_id) FILTER (WHERE cnt = (SELECT max(cnt) FROM c))
        |   AS BIGINT) AS top_key
        |FROM c""".stripMargin,
    // The exact heavy-hitter relation the two-phase sketch must equal
    // (count(*) is BIGINT — no HUGEINT sum in sight).
    "q98_heavy_hitters" ->
      """WITH c AS (
        | SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT count(*) AS n FROM events)
        |SELECT user_id, cnt FROM c, t WHERE cnt * 200 > n""".stripMargin,
    // Same pattern, same token semantics: Java and RE2 agree on this
    // alternation of literal classes.
    "q99_regex_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
        |   AS BIGINT) AS n_toks,
        | CAST(len(list_distinct(
        |   regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')))
        |   AS BIGINT) AS n_distinct
        |FROM documents""".stripMargin,
    // Each CTE replays one already-proven stage (q88/q24/q89/q23/q90/q84
    // fragments); the window-sum alias is CAST at use per the house rule.
    "q100_pipeline_e2e" ->
      """WITH nrm AS (
        | SELECT doc_id, source, nfc_normalize(text) AS text FROM documents),
        |tok AS (
        | SELECT doc_id, source, text,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens,
        |  str_split(text, ' ') AS toks
        | FROM nrm),
        |g AS (
        | SELECT doc_id, source, text, n_tokens,
        |  CASE WHEN len(toks) >= 3
        |   THEN list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' '))
        |   ELSE [] END AS grams
        | FROM tok),
        |qual AS (
        | SELECT doc_id, source, text, n_tokens FROM g
        | WHERE n_tokens >= 5 AND
        |  (CASE WHEN len(grams) > 0
        |    THEN round((len(grams) - len(list_distinct(grams)))
        |          / CAST(len(grams) AS DOUBLE), 6)
        |    ELSE 0.0 END) <= 0.5),
        |ded AS (
        | SELECT qual.* FROM qual
        | JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
        |       FROM qual GROUP BY md5(text)) k USING (doc_id)),
        |quota AS (
        | SELECT doc_id, n_tokens FROM (
        |  SELECT doc_id, n_tokens,
        |   CAST(row_number() OVER (PARTITION BY source
        |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM ded)
        | WHERE rk <= 20),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM quota)
        |SELECT doc_id, n_tokens,
        | CAST(cum - n_tokens AS BIGINT) AS start_offset,
        | CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id
        |FROM c""".stripMargin,
    // q95's oracle plus the purchase-side nulls with their own gate.
    "q101_stream_full_join" ->
      """WITH c AS (
        | SELECT event_id AS click_id, user_id, ts FROM events
        | WHERE event_type = 'click'),
        |p AS (
        | SELECT event_id AS purchase_id, user_id, ts, value FROM events
        | WHERE event_type = 'purchase'),
        |m AS (
        | SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p)) AS mx),
        |matched AS (
        | SELECT c.user_id, c.click_id, p.purchase_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(c.ts)) AS BIGINT)
        |    AS secs_to_purchase,
        |  p.value AS purchase_value
        | FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
        |uc AS (
        | SELECT c.user_id, c.click_id,
        |  CAST(NULL AS BIGINT) AS purchase_id,
        |  CAST(NULL AS BIGINT) AS secs_to_purchase,
        |  CAST(NULL AS DOUBLE) AS purchase_value
        | FROM c, m
        | WHERE NOT EXISTS (SELECT 1 FROM p
        |   WHERE p.user_id = c.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        |  AND c.ts + INTERVAL 2 HOUR < m.mx),
        |up AS (
        | SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
        |  CAST(NULL AS BIGINT) AS secs_to_purchase,
        |  p.value AS purchase_value
        | FROM p, m
        | WHERE NOT EXISTS (SELECT 1 FROM c
        |   WHERE c.user_id = p.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        |  AND p.ts + INTERVAL 1 HOUR < m.mx)
        |SELECT * FROM matched
        |UNION ALL SELECT * FROM uc
        |UNION ALL SELECT * FROM up""".stripMargin,
    "q102_schema_evolution" ->
      """SELECT doc_id, text, lang,
        | CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        | source, n_chars
        |FROM documents""".stripMargin,
    "q103_weighted_sample" ->
      """SELECT doc_id, n_tokens FROM (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens,
        |  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        | FROM documents)
        |WHERE u < least(1.0, n_tokens / 80.0)""".stripMargin,
    // quantile_cont == Spark's exact percentile (q12 parity); boolean
    // sums replaced by a counting CASE to keep everything BIGINT.
    "q104_curriculum_bins" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT quantile_cont(n_tokens, 0.25) AS q1,
        |  quantile_cont(n_tokens, 0.5) AS q2,
        |  quantile_cont(n_tokens, 0.75) AS q3
        | FROM t)
        |SELECT doc_id, n_tokens,
        | CAST(1 + (CASE WHEN n_tokens > q1 THEN 1 ELSE 0 END)
        |   + (CASE WHEN n_tokens > q2 THEN 1 ELSE 0 END)
        |   + (CASE WHEN n_tokens > q3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |FROM t, c""".stripMargin,
    // Both Lloyd iterations replayed: same init rule, same sequential
    // distance fold (list_reduce == aggregate-with-0-init since 0+x==x),
    // same 6-dp centroid rounding.
    "q105_kmeans" ->
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
        |a2 AS (
        | SELECT vec_id, cell FROM (
        |  SELECT e.vec_id, c.cid AS cell,
        |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |     list_reduce(list_transform(list_zip(e.v, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) ASC,
        |     c.cid ASC) AS rn
        |  FROM e CROSS JOIN c1 c) t WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cluster FROM a2""".stripMargin,
    // Train (q105's CTEs on the corpus slice) -> assign -> probe -> cosine
    // re-rank, all replayed.
    "q106_ann_ivf_trained" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |co AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
        |qs AS (
        | SELECT vec_id AS query_id, v AS qv,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS qn
        | FROM e WHERE vec_id < 5),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM co ORDER BY vec_id LIMIT 8),
        |a1 AS (
        | SELECT vec_id, v, cell FROM (
        |  SELECT co.vec_id, co.v, c.cid AS cell,
        |   row_number() OVER (PARTITION BY co.vec_id ORDER BY
        |     list_reduce(list_transform(list_zip(co.v, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) ASC,
        |     c.cid ASC) AS rn
        |  FROM co CROSS JOIN c0 c) t WHERE rn = 1),
        |c1 AS (
        | SELECT cell AS cid, list(m ORDER BY i) AS cv FROM (
        |  SELECT cell, d.i AS i, round(avg(v[d.i]), 6) AS m
        |  FROM a1, (SELECT unnest(range(1, 65)) AS i) d
        |  GROUP BY cell, d.i) s
        | GROUP BY cell),
        |asg AS (
        | SELECT vec_id AS neighbor_id, v AS nv,
        |  sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nn,
        |  cell
        | FROM (
        |  SELECT co.vec_id, co.v AS v, c.cid AS cell,
        |   row_number() OVER (PARTITION BY co.vec_id ORDER BY
        |     list_reduce(list_transform(list_zip(co.v, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) ASC,
        |     c.cid ASC) AS rn
        |  FROM co CROSS JOIN c1 c) t
        | WHERE rn = 1
        |   AND list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) > 0),
        |probes AS (
        | SELECT query_id, qv, qn, cell FROM (
        |  SELECT q.query_id, q.qv, q.qn, c.cid AS cell,
        |   row_number() OVER (PARTITION BY q.query_id ORDER BY
        |     list_reduce(list_transform(list_zip(q.qv, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) ASC,
        |     c.cid ASC) AS rn
        |  FROM qs q CROSS JOIN c1 c) t WHERE rn <= 3 AND qn > 0),
        |r AS (
        | SELECT query_id, neighbor_id,
        |  list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]),
        |    (a, b) -> a + b) / (qn * nn) AS qcos,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_reduce(list_transform(list_zip(qv, nv),
        |      z -> z[1] * z[2]), (a, b) -> a + b) / (qn * nn) DESC,
        |    neighbor_id ASC) AS INT) AS rnk
        | FROM probes JOIN asg USING (cell))
        |SELECT query_id, neighbor_id, rnk, round(qcos, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,
    // 3-gram shingling mirrors q89's oracle idiom (empty when < 3 tokens,
    // matching Spark's ngramStrings); per-doc grams distinct before the
    // join so `shared_grams` counts distinct contaminating grams.
    "q107_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) >= 3
        |   THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |          i -> array_to_string(toks[i:i+2], ' ')))
        |   ELSE [] END AS grams
        | FROM t),
        |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 100 = 0),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 100 <> 0),
        |sh AS (SELECT cg.doc_id, count(*) AS shared
        |       FROM cg JOIN eg USING (gram) GROUP BY cg.doc_id)
        |SELECT d.doc_id,
        | CAST(coalesce(sh.shared, 0) AS BIGINT) AS shared_grams,
        | CAST(CASE WHEN coalesce(sh.shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |   AS contaminated
        |FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
        |WHERE d.doc_id % 100 <> 0""".stripMargin,
    // q105's two-iteration Lloyd's replay over the dup-injected corpus
    // (q69's injection), then within-cell pairwise cosine (the same
    // sequential folds the q69 oracle proves bit-identical) and the
    // lowest-id survivor flag.
    "q108_semdedup" ->
      """WITH e0 AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |dups AS (
        | SELECT vec_id + 100000 AS vec_id, list_concat([v[1] + 0.05], v[2:64]) AS v
        | FROM e0 WHERE vec_id % 50 = 0),
        |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM dups),
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
        |a2 AS (
        | SELECT vec_id, v, cell FROM (
        |  SELECT e.vec_id, e.v, c.cid AS cell,
        |   row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |     list_reduce(list_transform(list_zip(e.v, c.cv),
        |       z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b) ASC,
        |     c.cid ASC) AS rn
        |  FROM e CROSS JOIN c1 c) t WHERE rn = 1),
        |p AS (
        | SELECT a.vec_id AS ia, b.vec_id AS ib
        | FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
        | WHERE list_reduce(list_transform(list_zip(a.v, b.v),
        |         z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y)))
        |   >= 0.99),
        |drp AS (SELECT DISTINCT ib FROM p)
        |SELECT a2.vec_id, CAST(a2.cell AS BIGINT) AS cluster,
        | CAST(CASE WHEN drp.ib IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM a2 LEFT JOIN drp ON a2.vec_id = drp.ib""".stripMargin,
    // Round-trip fidelity (q83's rule): the re-read must equal the
    // ORIGINAL table, so the oracle is simply the original.
    "q109_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // The naive single-window global rank the distributed form must equal;
    // md5 hex is lowercase in both engines, ASCII compare, id tiebreak.
    "q110_training_shuffle" ->
      """SELECT doc_id,
        | row_number() OVER (
        |   ORDER BY md5('epoch1' || CAST(doc_id AS VARCHAR)), doc_id)
        |  AS shuffle_rank
        |FROM documents""".stripMargin,
    // quantile_cont == Spark's exact percentile (q12/q104 parity); integer
    // inputs make med multiples of 0.5, adev exact, mad multiples of 0.25,
    // 3*mad exact — no rounding seam anywhere. Inner join on lang drops
    // NULL-lang rows identically on both engines.
    "q111_mad_outliers" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |m AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS med
        |      FROM t GROUP BY lang),
        |d AS (SELECT t.doc_id, t.lang, t.n_tokens, m.med,
        |       abs(t.n_tokens - m.med) AS adev FROM t JOIN m USING (lang)),
        |md AS (SELECT lang, quantile_cont(adev, 0.5) AS mad
        |       FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_tokens, d.med, md.mad,
        | CAST(CASE WHEN d.adev > 3.0 * md.mad THEN 1 ELSE 0 END AS BIGINT)
        |   AS is_outlier
        |FROM d JOIN md USING (lang)""".stripMargin,
    // range(0, n, 30) == Spark's sequence(0, n-1, 30) for n > 0.
    "q112_chunk_overlap" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |x AS (
        | SELECT doc_id, n_tokens, unnest(range(0, n_tokens, 30)) AS chunk_start
        | FROM t WHERE n_tokens > 0)
        |SELECT doc_id,
        | CAST(chunk_start // 30 AS BIGINT) AS chunk_id,
        | CAST(chunk_start AS BIGINT) AS chunk_start,
        | CAST(least(50, n_tokens - chunk_start) AS BIGINT) AS chunk_len
        |FROM x""".stripMargin,
    // NULL lang forms its own window partition in both engines (unlike
    // join keys), so no rows are lost.
    "q113_stratified_split" ->
      """WITH r AS (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS nl
        | FROM documents)
        |SELECT doc_id, lang,
        | CASE WHEN rk * 10 <= nl * 8 THEN 'train'
        |      WHEN rk * 10 <= nl * 9 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM r""".stripMargin,
    "q114_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT md5(text) AS fp FROM d WHERE doc_id % 10 <> 7),
        |inc AS (
        | SELECT doc_id, text FROM d WHERE doc_id % 10 = 7
        | UNION ALL
        | SELECT doc_id + 100000 AS doc_id, text FROM d WHERE doc_id % 25 = 3)
        |SELECT doc_id FROM inc
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = md5(inc.text))""".stripMargin,
    // The exact per-window heavy-hitter relation the sketch + recount
    // composition must equal (win_start = epoch-aligned tumbling hour,
    // q29's idiom).
    "q115_stream_heavy_hitters" ->
      """WITH w AS (
        | SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
        |   AS win_start, user_id
        | FROM events),
        |n AS (SELECT win_start, count(*) AS n FROM w GROUP BY win_start),
        |c AS (SELECT win_start, user_id, count(*) AS cnt
        |      FROM w GROUP BY win_start, user_id)
        |SELECT c.win_start, c.user_id, c.cnt
        |FROM c JOIN n USING (win_start)
        |WHERE c.cnt * 200 > n.n""".stripMargin,
    // Same (freq DESC, token ASC) total order on both sides, so the
    // top-256 set and the rank labels agree exactly.
    "q116_vocab" ->
      """WITH t AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS freq FROM t GROUP BY token)
        |SELECT token, freq,
        | CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS BIGINT)
        |   AS vocab_id
        |FROM c ORDER BY freq DESC, token ASC LIMIT 256""".stripMargin,
    "q117_oov_rate" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token
        | FROM documents),
        |c AS (SELECT token, count(*) AS freq FROM t GROUP BY token),
        |v AS (SELECT token FROM c ORDER BY freq DESC, token ASC LIMIT 16)
        |SELECT doc_id, count(*) AS n_tokens,
        | CAST(count(CASE WHEN v.token IS NULL THEN 1 END) AS BIGINT) AS n_oov,
        | round(count(CASE WHEN v.token IS NULL THEN 1 END)
        |   / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        |FROM t LEFT JOIN v ON t.token = v.token
        |GROUP BY doc_id""".stripMargin,
    // Parallel unnests zip positionally in DuckDB; range(0, len) matches
    // posexplode's 0-based positions.
    "q118_postings" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT unnest(toks) AS token, doc_id,
        | unnest(range(0, len(toks))) AS pos
        |FROM t""".stripMargin,
    // Both stages are the q27 sequential folds (parity proven there), the
    // coarse stage over the [1:16] list prefix; candidate cut and final
    // rank are total orders, so the two-stage result replays exactly.
    "q119_matryoshka_topk" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv FROM e WHERE vec_id >= 5),
        |p AS (
        | SELECT query_id, neighbor_id, qv, nv,
        |  list_reduce(list_transform(list_zip(qv[1:16], nv[1:16]), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(qv[1:16], x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(nv[1:16], x -> x * x), (x, y) -> x + y))) AS coarse
        | FROM q CROSS JOIN c),
        |cand AS (
        | SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY coarse DESC, neighbor_id) AS crnk
        |  FROM p) WHERE crnk <= 20),
        |f AS (
        | SELECT query_id, neighbor_id,
        |  list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(nv, x -> x * x), (x, y) -> x + y))) AS cos_sim
        | FROM cand),
        |r AS (
        | SELECT query_id, neighbor_id, cos_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        | FROM f)
        |SELECT query_id, neighbor_id, rnk, round(cos_sim, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,
    // Sign packing replayed word-for-word: 32-bit words (DuckDB's BIGINT
    // shift rejects bit 63, which is why the engine packs 32-bit words —
    // Similarity.signPack), integer Hamming = popcount of XOR per word,
    // exact-cosine rerank identical to q27's folds.
    "q120_binary_hamming" ->
      """WITH e AS (
        | SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        | FROM embeddings),
        |sg AS (
        | SELECT vec_id, v,
        |  list_transform([0, 1], w ->
        |   CAST(list_sum(list_transform(range(32), i ->
        |    CASE WHEN v[w * 32 + i + 1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END))
        |   AS BIGINT)) AS words
        | FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, words AS qw FROM sg WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, v AS nv, words AS nw FROM sg WHERE vec_id >= 5),
        |h AS (
        | SELECT query_id, neighbor_id, qv, nv,
        |  CAST(bit_count(xor(qw[1], nw[1])) + bit_count(xor(qw[2], nw[2])) AS BIGINT) AS hamming
        | FROM q CROSS JOIN c),
        |cand AS (
        | SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id) AS crnk
        |  FROM h) WHERE crnk <= 20),
        |f AS (
        | SELECT query_id, neighbor_id, hamming,
        |  list_reduce(list_transform(list_zip(qv, nv), z -> z[1] * z[2]), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y))
        |    * sqrt(list_reduce(list_transform(nv, x -> x * x), (x, y) -> x + y))) AS cos_sim
        | FROM cand),
        |r AS (
        | SELECT query_id, neighbor_id, hamming, cos_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        | FROM f)
        |SELECT query_id, neighbor_id, rnk, hamming, round(cos_sim, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,
    // Σ√n_s is a sequential source-asc fold on both engines (list(... ORDER
    // BY source) ↔ sort_array(collect_list)), so the normalizer is the
    // same double and the floor'd targets match exactly; row selection is
    // the md5-rank construction (q60/q103 family).
    "q121_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |w AS (
        | SELECT list_reduce(list_transform(list(cnt ORDER BY source), x ->
        |   sqrt(CAST(x AS DOUBLE))), (a, b) -> a + b) AS wsum
        | FROM c),
        |t AS (
        | SELECT source, CAST(floor(200.0 * sqrt(CAST(cnt AS DOUBLE)) / wsum) AS BIGINT)
        |   AS target_cnt
        | FROM c, w),
        |r AS (
        | SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rnk
        | FROM documents)
        |SELECT doc_id, r.source, target_cnt
        |FROM r JOIN t ON r.source = t.source WHERE rnk <= target_cnt""".stripMargin,
    // ln is libm (not bit-guaranteed across engines) → scores rounded 4 dp
    // on BOTH sides and ranked by the ROUNDED value (house parity rule).
    // Literals: 1.2::DOUBLE + 1.0 replays Scala's k1 + 1.0 (the double of
    // the literal 2.2 is a DIFFERENT value); avgdl is an exact integer
    // ratio in double on both engines.
    "q122_bm25" ->
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
        |r AS (SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        | FROM sc)
        |SELECT doc_id, score, rnk FROM r WHERE rnk <= 20""".stripMargin,
    // quantile_cont == Spark's exact percentile (q12/q104 parity).
    "q123_quality_prune" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens
        | FROM documents),
        |c AS (SELECT source, quantile_cont(n_tokens, 0.25) AS q1
        |      FROM t GROUP BY source)
        |SELECT doc_id, t.source, n_tokens
        |FROM t JOIN c ON t.source = c.source WHERE n_tokens > q1""".stripMargin,
    // q70's recursive-CTE connected components, then the keep-best window
    // — integer ranking keys (n_chars, doc_id), exact replay.
    "q124_cluster_best" ->
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
        |lab AS (SELECT node AS doc_id, min(label) AS canonical_id
        |        FROM cc GROUP BY node),
        |r AS (
        | SELECT l.canonical_id, d.doc_id, d.n_chars,
        |  row_number() OVER (PARTITION BY l.canonical_id
        |    ORDER BY d.n_chars DESC, d.doc_id) AS rn,
        |  count(*) OVER (PARTITION BY l.canonical_id) AS cluster_size
        | FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
        |SELECT canonical_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
        | CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM r WHERE rn = 1""".stripMargin,
    // Same ln-rounding rule as q122; freq/total is double on both sides.
    "q125_unigram_logprob" ->
      """WITH p AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM p GROUP BY token),
        |t AS (SELECT count(*) AS total FROM p)
        |SELECT doc_id,
        | round(sum(ln(CAST(freq AS DOUBLE) / total)) / count(*), 4) AS avg_logprob
        |FROM p JOIN f ON p.token = f.token, t GROUP BY doc_id""".stripMargin,
    // The batch equivalence of the exactly-once sink (q29's relation):
    // if the simulated retry duplicated rows, cnt/sum would double.
    "q126_stream_exactly_once" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS win_start,
        | event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Anti-join ∪ upserts replay; integer/string columns only ⇒ exact.
    "q127_upsert_snapshot" ->
      """WITH upd AS (
        | SELECT doc_id, text, lang, 'updated' AS source,
        |  n_chars + 1000 AS n_chars, 'update' AS op
        | FROM documents WHERE doc_id % 10 = 0),
        |del AS (
        | SELECT doc_id, text, lang, source, n_chars, 'delete' AS op
        | FROM documents WHERE doc_id % 10 = 1),
        |ins AS (
        | SELECT 1000000 + i AS doc_id, 'new doc ' || i AS text,
        |  'en' AS lang, 'ingest' AS source,
        |  CAST(length('new doc ' || i) AS BIGINT) AS n_chars, 'insert' AS op
        | FROM (SELECT unnest(range(0, 3)) AS i)),
        |ch AS (SELECT * FROM upd UNION ALL SELECT * FROM del
        |       UNION ALL SELECT * FROM ins)
        |SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM ch)
        |UNION ALL
        |SELECT doc_id, text, lang, source, n_chars FROM ch
        |WHERE op <> 'delete'""".stripMargin,
    // lead() window replay; epoch seconds via floor on both sides (house
    // rule), null valid_to ⇒ current row.
    "q128_scd2" ->
      """SELECT user_id, event_id, event_type,
        | CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
        | CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
        | lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin,
    // levenshtein is the identical classic DP on both engines (integers).
    "q129_fuzzy_match" ->
      """WITH p AS (
        | SELECT unnest(['NATIN_3', 'NATIONN_8', 'MATION_19', 'NATI0N_21',
        |   'NATOIN_14']) AS probe),
        |d AS (SELECT probe, n_name, levenshtein(probe, n_name) AS dist
        |      FROM p CROSS JOIN nation),
        |r AS (SELECT probe, n_name, dist,
        |  row_number() OVER (PARTITION BY probe ORDER BY dist, n_name) AS rn
        | FROM d)
        |SELECT probe, n_name AS best_name, CAST(dist AS BIGINT) AS dist
        |FROM r WHERE rn = 1""".stripMargin,
    // percent_rank/cume_dist are exact small-integer ratios over a total
    // order — bit-identical doubles, no rounding needed.
    "q130_analytic_ranks" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin,
    // Manual UNION ALL replay of the melt (all measures already DOUBLE).
    "q131_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |  l_quantity AS value
        |FROM lineitem WHERE l_orderkey < 2000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 2000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey < 2000""".stripMargin,
    // generate_series == Spark's sequence with an hour step (both closed
    // ranges over exact hour-truncated timestamps).
    "q132_resample" ->
      """WITH e AS (
        | SELECT user_id, date_trunc('hour', ts) AS hour, value
        | FROM events WHERE user_id < 30),
        |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |         FROM e GROUP BY user_id),
        |grid AS (SELECT user_id,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM span),
        |obs AS (SELECT user_id, hour, count(*) AS cnt, sum(value) AS sv
        |        FROM e GROUP BY user_id, hour)
        |SELECT g.user_id, CAST(floor(epoch(g.hour)) AS BIGINT) AS hour_s,
        | COALESCE(cnt, 0) AS cnt, round(COALESCE(sv, 0.0), 4) AS sum_value
        |FROM grid g LEFT JOIN obs o
        | ON g.user_id = o.user_id AND g.hour = o.hour""".stripMargin,
    // Two unrolled power iterations; (1.0 - 0.85::DOUBLE) replays Scala's
    // 1.0 - damping (the double of the literal 0.15 is a DIFFERENT
    // value); per-iteration round(8) makes the order-dependent incoming
    // sums engine-identical before they feed the next iteration.
    "q133_pagerank" ->
      """WITH eo AS (
        | SELECT DISTINCT o_custkey AS cust, 1000000 + l_suppkey AS supp
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT cust AS src, supp AS dst FROM eo
        |      UNION ALL SELECT supp, cust FROM eo),
        |deg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM deg),
        |pr0 AS (SELECT node, 1.0::DOUBLE / n AS pr FROM deg, nn),
        |pr1 AS (
        | SELECT e.dst AS node,
        |  round((1.0 - 0.85::DOUBLE) / n
        |    + 0.85::DOUBLE * sum(p.pr / d.outdeg), 8) AS pr
        | FROM e JOIN pr0 p ON p.node = e.src JOIN deg d ON d.node = e.src, nn
        | GROUP BY e.dst, n),
        |pr2 AS (
        | SELECT e.dst AS node,
        |  round((1.0 - 0.85::DOUBLE) / n
        |    + 0.85::DOUBLE * sum(p.pr / d.outdeg), 8) AS pr
        | FROM e JOIN pr1 p ON p.node = e.src JOIN deg d ON d.node = e.src, nn
        | GROUP BY e.dst, n)
        |SELECT node, round(pr, 6) AS pr FROM pr2""".stripMargin,
    // Mid-rank Mann-Whitney replay; the oracle may use the naive ordered
    // window over distinct values (it has no scale constraint) — the
    // engine's distributed prefix sum computes the identical cum_before.
    "q134_auc" ->
      """WITH s AS (
        | SELECT value, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS lab
        | FROM events),
        |g AS (SELECT value, count(*) AS cnt, sum(lab) AS npos_v
        |      FROM s GROUP BY value),
        |c AS (SELECT value, cnt, npos_v,
        |  COALESCE(CAST(sum(cnt) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
        | FROM g),
        |t AS (SELECT sum(npos_v * (cum_before + (cnt + 1) / 2.0)) AS rsum FROM c),
        |sc AS (SELECT CAST(sum(lab) AS BIGINT) AS npos,
        |  CAST(count(*) - sum(lab) AS BIGINT) AS nneg FROM s)
        |SELECT round((rsum - CAST(npos AS DOUBLE) * (npos + 1) / 2)
        |  / (CAST(npos AS DOUBLE) * nneg), 6) AS auc, npos, nneg
        |FROM t, sc""".stripMargin,
    // Bin arithmetic is identical IEEE on both engines (stored doubles,
    // same op sequence); pos_rate is an exact integer ratio.
    "q135_calibration_bins" ->
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        |x AS (
        | SELECT least(9, CAST(floor((value - mn) / ((mx - mn) / 10))
        |   AS BIGINT)) AS bin,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS lab, value
        | FROM events, b)
        |SELECT bin, count(*) AS cnt,
        | CAST(sum(lab) AS DOUBLE) / count(*) AS pos_rate,
        | round(sum(value) / count(*), 4) AS mean_value
        |FROM x GROUP BY bin""".stripMargin,
    // Chained min-timestamp replay; timestamps compare at full µs
    // precision on both engines, strict > as in the Spark plan.
    "q136_funnel" ->
      """WITH e AS (
        | SELECT user_id, strftime(ts, '%Y-%m-%d') AS d, ts, event_type
        | FROM events),
        |groups AS (SELECT DISTINCT user_id, d FROM e),
        |g1 AS (SELECT user_id, d, min(ts) AS f1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id, d),
        |g2 AS (SELECT e.user_id, e.d, min(ts) AS f2
        |       FROM e JOIN g1 ON e.user_id = g1.user_id AND e.d = g1.d
        |       WHERE event_type = 'click' AND ts > f1 GROUP BY e.user_id, e.d),
        |g3 AS (SELECT e.user_id, e.d, min(ts) AS f3
        |       FROM e JOIN g2 ON e.user_id = g2.user_id AND e.d = g2.d
        |       WHERE event_type = 'purchase' AND ts > f2 GROUP BY e.user_id, e.d)
        |SELECT g.d, count(*) AS n_groups,
        | count(f1) AS reached_view,
        | count(f2) AS reached_click,
        | count(f3) AS reached_purchase
        |FROM groups g
        | LEFT JOIN g1 ON g.user_id = g1.user_id AND g.d = g1.d
        | LEFT JOIN g2 ON g.user_id = g2.user_id AND g.d = g2.d
        | LEFT JOIN g3 ON g.user_id = g3.user_id AND g.d = g3.d
        |GROUP BY g.d""".stripMargin,
    // Integer epoch-week arithmetic on both engines (floor'd epoch
    // seconds, integer division by 604800).
    "q137_retention" ->
      """WITH wk AS (
        | SELECT DISTINCT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
        | FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY user_id)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset,
        | count(DISTINCT w.user_id) AS n_users
        |FROM wk w JOIN cohort c ON w.user_id = c.user_id
        |GROUP BY cohort_wk, week_offset""".stripMargin,
    // q32's md5/mod-p minhash replay, split into batch-probes-corpus; the
    // lowest matching corpus id is the canonical attribution.
    "q138_incremental_minhash" ->
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
        |bb AS (
        | SELECT doc_id, r.b AS band, sig[2 * r.b + 1 : 2 * r.b + 2] AS band_key, sig
        | FROM sig, range(8) r(b) WHERE doc_id % 7 = 0),
        |cb AS (
        | SELECT doc_id, r.b AS band, sig[2 * r.b + 1 : 2 * r.b + 2] AS band_key, sig
        | FROM sig, range(8) r(b) WHERE doc_id % 7 <> 0),
        |m AS (
        | SELECT DISTINCT bb.doc_id AS id, cb.doc_id AS corpus_id,
        |  list_sum(list_transform(range(16), i ->
        |    CASE WHEN bb.sig[i + 1] = cb.sig[i + 1] THEN 1 ELSE 0 END)) / 16.0 AS est
        | FROM bb JOIN cb
        |   ON bb.band = cb.band AND bb.band_key = cb.band_key),
        |mm AS (SELECT id, min(corpus_id) AS dup_of FROM m
        |       WHERE est >= 0.5 GROUP BY id)
        |SELECT d.doc_id, dup_of, dup_of IS NOT NULL AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
        |LEFT JOIN mm ON d.doc_id = mm.id""".stripMargin,
    // Raw power sums → central moments in the same left-associative
    // textual order as the Spark expressions; v^1.5 as v*sqrt(v) (no
    // pow); rounded 4 dp (order-dependent sums).
    "q139_moments" ->
      """WITH g AS (
        | SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS s1,
        |  sum(l_quantity * l_quantity) AS s2,
        |  sum(l_quantity * l_quantity * l_quantity) AS s3,
        |  sum(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
        | FROM lineitem GROUP BY l_returnflag),
        |m AS (
        | SELECT l_returnflag, n, s1 / n AS mean,
        |  s2 / n - (s1 / n) * (s1 / n) AS v,
        |  s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |    + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |  s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |    + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |    - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        | FROM g)
        |SELECT l_returnflag, n, round(mean, 4) AS mean,
        | round(v, 4) AS variance,
        | round(m3 / (v * sqrt(v)), 4) AS skewness,
        | round(m4 / (v * v) - 3.0, 4) AS kurtosis_excess
        |FROM m""".stripMargin,
    // Exact integer ratios into ln (libm → rounded 4 dp).
    "q140_type_entropy" ->
      """WITH c AS (
        | SELECT user_id, event_type, count(*) AS cnt
        | FROM events GROUP BY user_id, event_type),
        |t AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events
        |      FROM c GROUP BY user_id)
        |SELECT c.user_id, max(n_events) AS n_events,
        | round(-sum((CAST(cnt AS DOUBLE) / n_events)
        |   * ln(CAST(cnt AS DOUBLE) / n_events)), 4) AS entropy
        |FROM c JOIN t ON c.user_id = t.user_id
        |GROUP BY c.user_id""".stripMargin,
    // FULL JOIN + COALESCE replay; integer counts and nulls only.
    "q141_full_outer" ->
      """WITH c AS (
        | SELECT c_nationkey AS nk_c, count(*) AS cust_cnt
        | FROM customer WHERE c_nationkey >= 5 GROUP BY c_nationkey),
        |s AS (
        | SELECT s_nationkey AS nk_s, count(*) AS supp_cnt
        | FROM supplier WHERE s_nationkey < 15 GROUP BY s_nationkey)
        |SELECT COALESCE(nk_c, nk_s) AS nationkey, cust_cnt, supp_cnt
        |FROM c FULL JOIN s ON nk_c = nk_s""".stripMargin
  )
}
