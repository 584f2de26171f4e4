package graft.dedup

import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard near-dup detection.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one hash aggregation; MinHash/SimHash bucket by signature
  * bands so candidate generation is an equi-join on band keys (shuffle on
  * band hash, linear in candidates); only the verification step touches
  * pairs, and only within buckets. This is the standard web-scale pipeline
  * (shingle → minhash → band → bucket-join) and holds at 100 TB: band keys
  * distribute uniformly, and skewed buckets (boilerplate duplicates) are
  * exactly the rows one *wants* colliding.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest id as canonical.
    * One shuffle on the (64-bit, uniform) hash. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum over the document's k-shingle hashes. Tight-loop custom
    * expression ([[graft.functions.MinHashSig]]) — one pass over the token
    * array per row, no explode, no per-shingle expression-tree overhead.
    *
    * `family` selects the hash family: "xxh64" (fastest) or "md5p61"
    * ([[graft.functions.MinHashSigP61]] — bit-replayable by an external
    * SQL oracle; see OracleHashes.scala). */
  def minHashSignature(toks: Column, k: Int, numHashes: Int,
                       family: String = "xxh64"): Column = family match {
    case "xxh64"  => graft.functions.MinHashSig(toks, k, numHashes)
    case "md5p61" => graft.functions.MinHashSigP61(toks, k, numHashes)
    case other    => throw new IllegalArgumentException(s"unknown hash family: $other")
  }

  /** MinHash + LSH candidate pairs: signatures are cut into `bands` bands of
    * `rowsPerBand` hashes; documents sharing any band bucket become a
    * candidate pair, then candidates are verified by estimated Jaccard
    * (fraction of agreeing minhashes) >= `threshold`.
    *
    * Physical shape: explode to (doc, band, bandHash) — |docs|·bands rows —
    * self-equi-join on (band, bandHash), dedup pairs. No cross join at any
    * scale. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 k: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                 threshold: Double = 0.5, family: String = "xxh64"): DataFrame = {
    val numHashes = bands * rowsPerBand
    // the tokenize + numHashes-signature pass feeds BOTH sides of the band
    // self-join below, and the self-join's attribute rewrite defeats
    // exchange reuse (the ngramJaccardSelfPairs finding) — truncate lazily
    // so the corpus signature pass runs once, not twice. Pre-shuffled by
    // doc id first: row-group-bounded scan parallelism serialized the
    // whole signature pass on one task (the ngramJaccardSelfPairs
    // finding, r17); signatures are per-row functions, so partitioning
    // is value-free.
    val sigs = graft.io.Checkpoints.truncate(df
      .repartition(shufflePartitions(df), col(idCol))
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("sig", minHashSignature(col("toks"), k, numHashes, family))
      .select(col("id"), col("sig")), eager = false)
    // Band key = the sliced signature values themselves (array<long> is a
    // fine shuffle/join key): exact band-equality semantics, no re-hash
    // collision possible, and replayable by a SQL oracle — unlike
    // xxhash64(slice), which no other engine can reproduce.
    val banded = sigs.withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("band_key",
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)))
      .select(col("id"), col("sig"), col("band"), col("band_key"))
    // est_jaccard is computed band-locally, BEFORE the pair dedup: it is
    // pair-deterministic (same sigs → same estimate on every band match,
    // ≤`bands` redundant O(numHashes) folds per pair — trivial), so the
    // threshold filter prunes candidate rows before they shuffle, and the
    // dedup aggregates only (long, long, double) rows. Deduping FIRST
    // would carry both signature arrays into the aggregate, whose
    // immutable first(array) buffers silently degrade the whole
    // candidate-stream aggregation to sort-sort-SortAggregate (plan
    // verified both ways; PLAN_AUDIT.md is the regression tripwire).
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (graft.functions.MatchCount(col("a.sig"), col("b.sig"))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Candidate pairs for SEVERAL (bands, rowsPerBand) LSH configs sharing
    * one signature width H = bands·rowsPerBand — the parameter-sweep
    * companion to [[minHashLsh]] (q234's band curve).
    *
    * Running [[minHashLsh]] once per config recomputes the tokenize +
    * H-hash signature pass AND the band self-join per config. But the
    * configs share their signatures exactly (same family, k, H), and the
    * FINEST banding (H bands of 1 row) has the superset candidate set: a
    * pair matching any r-row band matches each of its r single-hash bands
    * individually. So this runs ONE signature pass (truncated — it feeds
    * both self-join sides) and ONE self-join at r = 1, then derives each
    * coarser config's membership per candidate pair as a pure function of
    * the two signature arrays ([[graft.functions.AnyBandEqual]] — a
    * codegen'd fused loop, no re-join). Per config the emitted pair set is
    * row-identical to `minHashLsh(df, …, bands = b, rowsPerBand = r, …)`
    * (MinHashLshSweepSpec pins the parity).
    *
    * Returns (bands, rpb, id_a, id_b, est_jaccard) with id_a < id_b,
    * distinct per config. */
  def minHashLshSweep(df: DataFrame, textCol: String, idCol: String,
                      k: Int, configs0: Seq[(Int, Int)],
                      threshold: Double, family: String): DataFrame = {
    // duplicate (bands, rowsPerBand) entries would create duplicate
    // __m_b_r flag columns and an ambiguous-column AnalysisException in
    // the config explode below; each distinct config contributes one
    // row set, so dedup here instead of failing confusingly
    val configs = configs0.distinct
    val hs = configs.map { case (b, r) => b * r }.distinct
    require(hs.size == 1, s"configs must share bands*rowsPerBand: $configs")
    val numHashes = hs.head
    val sigs = graft.io.Checkpoints.truncate(
      df.repartition(shufflePartitions(df), col(idCol))
        .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
        .withColumn("sig", minHashSignature(col("toks"), k, numHashes, family))
        .select(col("id"), col("sig")),
      eager = false)
    val banded = sigs.withColumn("band",
        explode(array((0 until numHashes).map(lit): _*)))
      .withColumn("band_key", slice(col("sig"), col("band") + 1, lit(1)))
      .select(col("id"), col("sig"), col("band"), col("band_key"))
    // est + band membership are band-local pair functions (same sigs →
    // same values on every band match), so the threshold filter prunes
    // candidate rows BEFORE the pair dedup and the dedup aggregates only
    // narrow scalar rows — the minHashLsh order, for the same reason.
    val flags = configs.map { case (b, r) =>
      (if (r == 1) lit(true)
       else graft.functions.AnyBandEqual(col("a.sig"), col("b.sig"), r))
        .as(s"__m_${b}_$r")
    }
    val paired = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(Seq(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (graft.functions.MatchCount(col("a.sig"), col("b.sig"))
          .cast("double") / numHashes).as("est_jaccard")) ++ flags: _*)
      .filter(col("est_jaccard") >= threshold)
      .distinct()
    val cfg = explode(array(configs.map { case (b, r) =>
      struct(lit(b).as("bands"), lit(r).as("rpb"),
        col(s"__m_${b}_$r").as("m"))
    }: _*)).as("__cfg")
    paired.select(col("id_a"), col("id_b"), col("est_jaccard"), cfg)
      .filter(col("__cfg.m"))
      .select(col("__cfg.bands").as("bands"), col("__cfg.rpb").as("rpb"),
        col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Incremental NEAR-dup admission — the production dedup-ingest shape
    * complementing q114's exact fingerprint anti-join: an incoming batch is
    * checked against the EXISTING corpus's MinHash band index instead of
    * against itself.
    *
    * The corpus side is exactly the banded-signature relation a live
    * pipeline would keep materialized (bucketed by (band, band_key) —
    * io/Bucketing — so per-batch probes are shuffle-free index lookups);
    * here it is computed inline from `corpus` for self-containedness. The
    * batch computes its own signatures (one map-side pass over batch text),
    * probes the index with a band equi-join, verifies candidates by
    * estimated Jaccard, and reports each batch doc's lowest-id corpus match
    * (the canonical attribution rule) or novelty. Batch text never joins
    * corpus text — only fixed-width signatures move.
    *
    * Returns (idCol, dup_of nullable, is_dup). */
  def incrementalMinHash(corpus: DataFrame, batch: DataFrame,
                         textCol: String, idCol: String,
                         k: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                         threshold: Double = 0.5,
                         family: String = "xxh64"): DataFrame = {
    val numHashes = bands * rowsPerBand
    def banded(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .withColumn("sig", minHashSignature(col("toks"), k, numHashes, family))
      .withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("band_key",
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)))
      .select(col("id"), col("sig"), col("band"), col("band_key"))
    val idx = banded(corpus).select(col("id").as("corpus_id"),
      col("sig").as("csig"), col("band"), col("band_key"))
    val est = graft.functions.MatchCount(col("sig"), col("csig"))
      .cast("double") / numHashes
    // est computes band-locally and the filter runs BEFORE any dedup; the
    // per-pair dedup itself is unnecessary — min(corpus_id) absorbs the
    // ≤`bands` duplicate matches of a pair. (The old dedup-first order
    // carried both signature arrays into a first(array) aggregate, which
    // degrades to SortAggregate over the whole match stream.)
    val matches = banded(batch).join(idx, Seq("band", "band_key"))
      .withColumn("est", est)
      .filter(col("est") >= threshold)
      .groupBy("id").agg(min(col("corpus_id")).as("dup_of"))
    batch.select(col(idCol).as("id"))
      .join(matches, Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** SimHash: 64-bit locality-sensitive fingerprint. Each token hash votes
    * ±1 per bit position; the sign vector becomes the fingerprint. Near-dups
    * differ in few bits (Hamming distance). Pure HOF fold over the token
    * array — no explode, no shuffle. */
  def simHash(toks: Column, family: String = "xxh64"): Column = family match {
    case "xxh64"  => graft.functions.SimHash64(toks)
    case "md5p61" => graft.functions.SimHash64Md5(toks)
    case other    => throw new IllegalArgumentException(s"unknown hash family: $other")
  }

  /** SimHash near-dup candidates by block partitioning (Charikar/Manku):
    * split the 64-bit fingerprint into `blocks` blocks; dups within Hamming
    * distance `maxHamming < blocks` must agree on at least one block →
    * equi-join per block, verify exact Hamming via bit_count(xor).
    *
    * Verify-then-dedup, the r15 ordering (same argument as
    * [[ngramJaccardSelfPairs]]): the Hamming check is ONE bit_count per
    * collision row, evaluated in-pipeline as the block join streams — so
    * the pair dedup runs on the sparse ≤maxHamming survivors, never on
    * the raw collision stream. The old dedup-first order hash-aggregated
    * EVERY block collision; on a 5M-doc corpus (sf100 audit) that stream
    * is ~10⁹ rows and the dedup spilled 230 GB — after the swap the same
    * leg spills nothing. Candidate volume itself is Σ bucket² over
    * 16-bit-block buckets — the standard block-LSH density contract:
    * collisions track true near-dup density on a real (sparse-fingerprint)
    * corpus, and the per-row verify keeps even the dense-corpus worst
    * case streaming instead of materializing. */
  def simHashDups(df: DataFrame, textCol: String, idCol: String,
                  blocks: Int = 4, maxHamming: Int = 3,
                  family: String = "xxh64"): DataFrame = {
    val width = 64 / blocks
    val withSig = df.select(col(idCol).as("id"),
      simHash(Text.tokens(col(textCol)), family).as("sim"))
    val mask = if (width == 64) -1L else (1L << width) - 1
    val blockStructs = array((0 until blocks).map(b => struct(
      lit(b).as("blk"),
      shiftrightunsigned(col("sim"), b * width).bitwiseAND(mask).as("blk_val"))): _*)
    val blocked = withSig.withColumn("bb", explode(blockStructs))
      .withColumn("blk", col("bb.blk")).withColumn("blk_val", col("bb.blk_val"))
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.blk_val") === col("b.blk_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** End-to-end near-dup canonicalization — the training-corpus dedup
    * product: MinHash+LSH candidates → exact-Jaccard verification →
    * connected components → per-component canonical id (lowest doc id).
    *
    * Components via iterative min-label propagation over the verified-pair
    * edge list (the bounded-round form of large-star/small-star): each
    * round is one join + one min-aggregation, so a round is two shuffles
    * regardless of corpus size, and near-dup clusters (tiny diameters)
    * converge in 2-3 rounds. Returns (doc_id, canonical_id); singleton
    * docs map to themselves.
    *
    * The LSH candidate stage is approximate (recall bounded by the band
    * scheme), but the components of the VERIFIED edge list are computed
    * exactly: `requireFixpoint` (default true) throws if `rounds` runs out
    * with labels still changing, because a silently truncated propagation
    * would split a long near-dup chain in a data-dependent way (and
    * diverge from the external connected-components oracle this operator
    * is verified against). Near-dup components converge in 2-3 rounds, so
    * hitting the cap means the cap is too small, not that truncation is
    * acceptable; pass `requireFixpoint = false` only to accept best-effort
    * labels from a bounded round budget. */
  def canonicalize(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                   jaccardThreshold: Double = 0.5, rounds: Int = 4,
                   family: String = "xxh64",
                   requireFixpoint: Boolean = true): DataFrame = {
    // LSH candidates prefiltered by estimated jaccard at half the verify
    // threshold — cheap signature agreement culls the long tail before the
    // exact set comparison (recall is bounded by the band scheme either way)
    val candidates = minHashLsh(df, textCol, idCol, k, bands, rowsPerBand,
      threshold = jaccardThreshold / 2, family = family)
    // same verify-join build-side policy as the exact-Jaccard family
    // (hashJoinSide): the doc-shingles side is the SMALL side vs the
    // candidate pair stream, so hash-join it — byte-gated broadcast or
    // shuffled-hash — and never let the default SMJ sort candidate rows
    // carrying shingle arrays (the shape that filled the disk at sf10
    // pre-r14). One action sizes the gate and materializes the lazy
    // checkpoint the two verify joins share.
    val shingles = graft.io.Checkpoints.truncate(
      df.select(col(idCol).as("__id"),
          array_distinct(graft.text.Text.shingleHashes(
            graft.text.Text.tokens(col(textCol)), k)).as("__set"))
        .withColumn("__sz", size(col("__set"))),
      eager = false)
    val shinglesFor = hashJoinSide(shingles, materialize = true)
    val verified = candidates
      .join(shinglesFor("id_a", "sh_a"), "id_a")
      .join(shinglesFor("id_b", "sh_b"), "id_b")
      .withColumn("__j", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("__j") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    // undirected edges both ways, then min-label propagation to the
    // early-exit fixpoint (near-dup clusters converge in 2-3 rounds; the
    // round cap is a backstop, and exhausting it fails loudly by default)
    val (labels, converged) = minLabelPropagate(verified,
      df.select(col(idCol).as("node")), maxRounds = rounds)
    if (requireFixpoint && !converged)
      throw new IllegalStateException(
        s"canonicalize: min-label propagation did not reach a fixpoint in " +
          s"rounds=$rounds; raise rounds (component diameter exceeds it) " +
          s"or pass requireFixpoint=false to accept truncated labels")
    labels.select(col("node").as(idCol), col("label").as("canonical_id"))
  }

  /** Shared connected-components core — now hosted at
    * [[graft.graph.ConnectedComponents.minLabel]] (the same fixpoint also
    * serves entity resolution, q153); kept as a private alias so the
    * canonicalization call sites read locally. */
  private def minLabelPropagate(pairs: DataFrame, nodes: DataFrame,
                                maxRounds: Int): (DataFrame, Boolean) =
    graft.graph.ConnectedComponents.minLabel(pairs, nodes, maxRounds)

  /** Exact near-dup canonicalization: like [[canonicalize]], but candidate
    * generation is the EXACT inverted-postings n-gram Jaccard join
    * ([[ngramJaccardPairs]]) instead of MinHash+LSH — recall 1.0 by
    * construction, so the result is deterministically the true connected
    * components of the "jaccard >= threshold" graph (which makes it
    * oracle-able: a batch SQL engine can reproduce it with a recursive CTE).
    *
    * Min-label propagation runs to a FIXPOINT: each round is one join + one
    * min-aggregation (two shuffles) over the (tiny) edge list and label
    * table, with per-round lineage truncation; the loop exits when a round
    * changes no label, so the labels are exactly per-component minima
    * whatever the component diameter. Near-dup clusters have single-digit
    * diameters, so rounds ~ 3-4 in practice; `maxRounds` only backstops
    * adversarial chains. */
  def canonicalizeExact(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 2, jaccardThreshold: Double = 0.5,
                        maxRounds: Int = 16): DataFrame = {
    val pairs = ngramJaccardSelfPairs(df, textCol, idCol, k, jaccardThreshold)
      .select(col("id_a"), col("id_b"))
    val (labels, converged) = minLabelPropagate(pairs,
      df.select(col(idCol).as("node")), maxRounds)
    // The contract (and the q70 recursive-CTE oracle) is TRUE connected
    // components; returning partial labels on round exhaustion would
    // silently diverge from it on a component of diameter > maxRounds.
    if (!converged)
      throw new IllegalStateException(
        s"canonicalizeExact: min-label propagation did not reach a fixpoint " +
          s"in maxRounds=$maxRounds rounds; raise maxRounds (component " +
          s"diameter exceeds it)")
    labels.select(col("node").as(idCol), col("label").as("canonical_id"))
  }

  /** Exact n-gram Jaccard SELF-join with the full PPJoin filter stack
    * (Chaudhuri et al. SSJoin 2006; Xiao et al. PPJoin 2008) — the
    * scale-safe form of [[ngramJaccardPairs]] for corpus × corpus.
    *
    * The plain inverted-postings join is quadratic in the hottest shingle:
    * a stop-shingle present in a fraction f of N documents alone yields
    * ~(fN)²/2 join rows, and the per-pair count aggregation carries one
    * group per CO-OCCURRING pair — both blow up with key skew. This
    * variant bounds candidate volume by the data's true near-dup density
    * with NO recall loss, via four independently-sound filters:
    *
    *   1. GLOBAL ORDER: one aggregation computes each shingle's document
    *      frequency; shingles are totally ordered (doc_freq asc, hash asc)
    *      — rarest first, so hot shingles sort LAST and leave every
    *      prefix.
    *   2. PREFIX FILTER (asymmetric, self-join form): the larger set of a
    *      pair probes with its first |s| − ⌈t·|s|⌉ + 1 shingles, the
    *      smaller is indexed by its first |s| − ⌈(2t/(1+t))·|s|⌉ + 1.
    *      THEOREM (recall 1.0, for |x| ≥ |y|, J ≥ t, both sorted by the
    *      global order): J ≥ t ⟺ I = |x∩y| ≥ t/(1+t)·(|x|+|y|). Let e be
    *      the order-smallest common element; every common element sorts
    *      at-or-after e. If e were outside x's probing prefix then
    *      I ≤ ⌈t|x|⌉ − 1 < t·|x| ≤ t/(1+t)·(|x|+|y|) ≤ I (using
    *      |y| ≥ t·|x| from the length filter) — contradiction; if outside
    *      y's indexing prefix then I < 2t/(1+t)·|y| ≤ t/(1+t)·(|x|+|y|)
    *      ≤ I (using |x| ≥ |y|) — contradiction. So e's join row exists.
    *   3. LENGTH FILTER: J ≥ t forces t·|x| ≤ |y| ≤ |x|.
    *   4. POSITIONAL FILTER: for a join row matching at ranks (r_x, r_y),
    *      all common elements sit at-or-after those ranks, so
    *      I ≤ min(|x|−r_x, |y|−r_y) + 1; rows that cannot reach
    *      α = ⌈t/(1+t)·(|x|+|y|)⌉ are dropped. Sound because e's row
    *      (step 2) always passes: its bound is ≥ I ≥ α.
    *
    * Surviving candidate rows are verified IN-PIPELINE, then the tiny
    * survivor set is deduplicated. The verify step hash-joins the doc-set
    * relation (always the SMALL side: n docs vs ≥n candidate rows) onto
    * the streaming candidate rows — |A∩B| by
    * [[graft.functions.SortedIntersectSize]]'s merge scan (no per-row
    * hash set), Jaccard threshold — all inside one whole-stage pipeline,
    * so no candidate row is ever materialized, shuffled, or aggregated.
    * Verify-before-dedup is the r15 inversion of the original order:
    * deduplicating first hash-aggregated the FULL candidate stream (354M
    * (ia,ib) groups at sf10 on the vocabulary-dense harness corpus —
    * 108 GB of aggregation spill), to save re-verifying duplicate
    * candidates; but candidate multiplicity is only ~1.67
    * (BASELINE_HISTORY.md r15, exact-Jaccard verify family) and a merge
    * intersect is ~100 ns, so re-verifying duplicates costs
    * far less than deduplicating the stream. True near-dup pairs are
    * sparse (256 of 3.5M distinct candidates at sf0.1), so the post-verify
    * dedup agg runs on a relation ~10⁴× smaller than the candidate stream.
    * Duplicate candidate rows verify to bit-identical (jaccard, sa, sb)
    * values — the intersect is a pure function of the pair — so the
    * min-based dedup returns exactly the rows the dedup-first order did.
    *
    * The doc-set build side broadcasts only when its ESTIMATED BYTES
    * (Σ set sizes × 8 B + per-row overhead, from the same aggregate that
    * materializes the checkpoint) fit `spark.graft.dedup.broadcastMaxBytes`
    * (default 256 MB) — a row-count gate would let a long-document corpus
    * broadcast gigabytes past the driver. Above the gate the build side
    * becomes a shuffled hash join: still sort-free, still small-side-built.
    *
    * All ceil() thresholds carry a −1e-9 guard so float error can only
    * lengthen a prefix or relax a filter (extra candidates), never drop a
    * qualifying pair.
    *
    * Scale shape: doc-freq agg + prefix join shuffle on the shingle hash
    * (skew-immune by step 1), prefix ranking is one shuffle on doc id,
    * the candidate stream flows through the verify hash joins without an
    * exchange when the build side broadcasts (and shuffles scalar rows,
    * never arrays, when it does not); no stage is super-linear in corpus
    * size or in any single key's frequency. */
  def ngramJaccardSelfPairs(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 3, threshold: Double = 0.3,
                            materializeShared: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val t = threshold
    val eps = lit(1e-9)
    // sets feeds three consumers (postings + both verify joins) and ranked
    // feeds both sides of the self-join; neither subtree gets deduplicated
    // by exchange reuse (verified: the self-join's attribute rewrite breaks
    // canonical equality), so by default both are LAZILY localCheckpoint-ed
    // — the first action materializes once, every other consumer reads the
    // cached blocks. A wash at sf0.1 (the subtrees are small) but the
    // shingle+doc-freq+rank work is the dominant LINEAR cost at corpus
    // scale and must not run twice. materializeShared=false keeps the plan
    // fully declarative (plan-inspection / small one-shot corpora).
    // Truncation goes through the Checkpoints seam: local by default,
    // reliable when spark.graft.checkpointDir is set.
    def shared(d: DataFrame): DataFrame =
      if (materializeShared) graft.io.Checkpoints.truncate(d, eager = false) else d
    // NOTE (r17): a pinned pre-shuffle before the shingle pass (the
    // minHashLsh device) was measured here and REVERTED — the full-suite
    // A/B put the ngramJaccard consumer family at +3.5 s net (q124 +1.2,
    // q232 +0.8, q205 +0.7) despite the shingle stage's single-task scan:
    // this operator's wall is dominated by the candidate+verify stages,
    // which are already width-pinned below, and the extra exchange +
    // wider checkpoint blocks cost more than the serial shingle pass.
    val sets = shared(df
      .select(col(idCol).as("__id"),
        array_sort(array_distinct(Text.shingleHashes(Text.tokens(col(textCol)), k)))
          .as("__set"))
      .filter(size(col("__set")) > 0)
      .withColumn("__sz", size(col("__set"))))
    val postings = sets.select(col("__id"), col("__sz"), explode(col("__set")).as("sh"))
    val docFreq = postings.groupBy("sh").agg(count(lit(1)).as("__df"))
    val probeLen = col("__sz") - ceil(col("__sz") * t - eps).cast("int") + 1
    val indexLen = col("__sz") -
      ceil(col("__sz") * (2 * t / (1 + t)) - eps).cast("int") + 1
    val ranked = shared(postings.join(docFreq, "sh")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("sh"))))
      .filter(col("__rn") <= probeLen)
      .withColumn("__idx", col("__rn") <= indexLen)
      .select(col("__id"), col("__sz"), col("sh"), col("__rn"), col("__idx")))
    // PIN the prefix-join input partitioning (repartition-by-num is
    // exempt from AQE coalescing): the join INPUTS are small (prefix rows
    // only) but the join OUTPUT explodes ~200× on a dense-vocabulary
    // corpus, and since r15 the verify runs IN-PIPELINE downstream of it.
    // AQE sizes the exchange by input bytes — at small SF it coalesced
    // the stage to 1-2 partitions and the entire candidate+verify work
    // ran near-serially (sf0.1: 3.4 s → 6.0 s wall on LESS cpu). Pinning
    // costs nothing (the join needs this exchange anyway) and keeps the
    // exploding stage at full width at every SF.
    val nPart = shufflePartitions(df)
    val probe = ranked
      .select(col("__id").as("ia"), col("__sz").as("sa"), col("sh"), col("__rn").as("ra"))
      .repartition(nPart, col("sh"))
    val index = ranked.filter(col("__idx"))
      .select(col("__id").as("ib"), col("__sz").as("sb"), col("sh"), col("__rn").as("rb"))
      .repartition(nPart, col("sh"))
    val alphaPair = ceil((col("sa") + col("sb")) * (t / (1 + t)) - eps)
    // shuffle_hash on the indexed (shorter-prefix) side: neither side
    // needs a sort, and the per-partition build is prefix rows only
    val candidates = probe.join(index.hint("shuffle_hash"), Seq("sh"))
      .filter(col("sb") < col("sa") || (col("sb") === col("sa") && col("ib") < col("ia")))
      .filter(col("sb") >= ceil(col("sa") * t - eps))
      .filter(least(col("sa") - col("ra"), col("sb") - col("rb")) + 1 >= alphaPair)
      .select(col("ia"), col("ib"), col("sa"), col("sb"))
    // VERIFY-JOIN PHYSICAL SHAPE: on a vocabulary-dense corpus the
    // candidate set is a large fraction of n² (the sf0.1 harness corpus
    // has 931 distinct shingles across 5k docs — 5.9M candidate rows =
    // 28% of all pairs as distinct candidates), so the candidate stream
    // must never sort, shuffle, or aggregate. The sets side is always the
    // small side (n docs vs ≥n candidate rows): hash-join it — broadcast
    // when its estimated bytes fit the gate, shuffled-hash above — and
    // verify each candidate row as it streams; only the sparse survivor
    // set (true near-dups) reaches the pair dedup agg. Duplicate
    // candidates (≤ prefix length per pair, measured ~1.67×) re-run a
    // ~100 ns merge intersect — far cheaper than hash-aggregating the
    // full stream (measured at sf10: 108 GB agg spill → none).
    val setsFor = hashJoinSide(sets, materializeShared)
    candidates
      .join(setsFor("ia", "__set_a"), "ia")
      .join(setsFor("ib", "__set_b"), "ib")
      .withColumn("__inter",
        graft.functions.SortedIntersectSize(col("__set_a"), col("__set_b")))
      .withColumn("jaccard",
        col("__inter").cast("double") / (col("sa") + col("sb") - col("__inter")))
      .filter(col("jaccard") >= t)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("jaccard"))
      // jaccard is a pure function of the pair, identical on every
      // duplicate candidate row; min() is just the deterministic picker
      .groupBy("id_a", "id_b").agg(min(col("jaccard")).as("jaccard"))
  }

  /** Session shuffle width for pinned repartitions (AQE-coalesce-exempt)
    * — see [[graft.io.Conf.shufflePartitions]] (one shared definition). */
  private def shufflePartitions(df: DataFrame): Int =
    graft.io.Conf.shufflePartitions(df.sparkSession)

  /** Shared verify-join build-side policy for the exact set-similarity
    * family: returns a renamer for the (__id, __set, __sz) relation that
    * BROADCASTs it when the estimated serialized bytes (Σ|set|·8 B + 64 B
    * row overhead, computed by the same single action that materializes
    * the lazy checkpoint) fit `spark.graft.dedup.broadcastMaxBytes`
    * (default 256 MB), and marks it `shuffle_hash` otherwise — a
    * row-count gate would let a long-document corpus push a multi-GB
    * broadcast through the driver. When the caller keeps the plan
    * declarative (`materialize = false`) no action runs and the side is
    * always shuffled-hash. */
  private def hashJoinSide(sets: DataFrame, materialize: Boolean)
      : (String, String) => DataFrame = {
    val estBytes =
      if (materialize) {
        // one action: materializes the checkpoint AND sizes the broadcast
        val r = sets.agg(count(lit(1)), sum(col("__sz"))).head()
        r.getLong(0) * 64L + (if (r.isNullAt(1)) 0L else r.getLong(1)) * 8L
      } else Long.MaxValue // stay declarative: no action, no broadcast
    val maxBytes = sets.sparkSession.conf
      .get("spark.graft.dedup.broadcastMaxBytes", (256L << 20).toString).toLong
    (key: String, out: String) => {
      val s = sets.select(col("__id").as(key), col("__set").as(out))
      if (estBytes <= maxBytes) broadcast(s) else s.hint("shuffle_hash")
    }
  }

  /** Exact n-gram CONTAINMENT self-join — Broder's asymmetric companion to
    * resemblance/Jaccard: containment(A in B) = |A∩B| / |A|, the signal
    * Jaccard misses when a short document is quoted inside a much longer
    * one (|A∩B|/|A∪B| collapses as |B| grows; |A∩B|/|A| does not).
    * Returns one DIRECTED row per qualifying (contained id_a, container
    * id_b) pair with the exact shared-gram count.
    *
    * Scale shape = the prefix-filtered overlap join: shingles get the
    * global (doc_freq asc, hash asc) rarity order; the CONTAINED side
    * probes with only its first |A| − ⌈t·|A|⌉ + 1 shingles (recall 1.0:
    * if none of those hit B, shared ≤ ⌈t|A|⌉ − 1 < t·|A|), while the
    * container side stays fully indexed — containment puts no lower bound
    * on |B|, so only the probe side can be pruned. Hot boilerplate
    * shingles sort LAST and fall out of probe prefixes, which is what
    * bounds the join fan-out (the PPJoin skew argument). Candidate rows
    * are verified IN-PIPELINE with the
    * [[graft.functions.SortedIntersectSize]] merge scan and only the
    * sparse survivor set is deduplicated — the same verify-before-dedup
    * ordering and byte-gated hash-join build side as
    * [[ngramJaccardSelfPairs]] (see its scaladoc for the cost argument). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 3, threshold: Double = 0.8,
                       materializeShared: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val t = threshold
    val eps = lit(1e-9)
    def shared(d: DataFrame): DataFrame =
      if (materializeShared) graft.io.Checkpoints.truncate(d, eager = false) else d
    val sets = shared(df
      .select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("__toks"))
      .select(col("__id"),
        array_sort(array_distinct(Text.shingleHashes(col("__toks"), k)))
          .as("__set"))
      .filter(size(col("__set")) > 0)
      .withColumn("__sz", size(col("__set"))))
    val postings = sets.select(col("__id"), col("__sz"), explode(col("__set")).as("sh"))
    val docFreq = postings.groupBy("sh").agg(count(lit(1)).as("__df"))
    val probeLen = col("__sz") - ceil(col("__sz") * t - eps).cast("int") + 1
    // pinned width for the exploding overlap join + in-pipeline verify —
    // same AQE-coalescing rationale as ngramJaccardSelfPairs
    val nPart = shufflePartitions(df)
    val probe = postings.join(docFreq, "sh")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("sh"))))
      .filter(col("__rn") <= probeLen)
      .select(col("__id").as("ia"), col("__sz").as("sa"), col("sh"))
      .repartition(nPart, col("sh"))
    // shuffle_hash build side = the PRUNED probe prefixes (the smaller,
    // (1−t)-fraction relation), never the full postings table: a shuffled
    // hash build cannot spill, so per-task build memory is
    // |prefix rows|/nPart — the same bounded-build contract as
    // ngramJaccardSelfPairs' index side. Hinting the container side
    // instead would build |postings|/nPart rows per task, which grows
    // with the corpus and OOMs where the old sort-merge plan spilled.
    val candidates = probe.hint("shuffle_hash")
      .join(postings.select(col("__id").as("ib"), col("sh"))
        .repartition(nPart, col("sh")), Seq("sh"))
      .filter(col("ia") =!= col("ib"))
      .select("ia", "ib", "sa")
    // same sort-free verify-then-dedup shape as ngramJaccardSelfPairs
    // (see the scaladoc there): hash-join the doc-sets side onto the
    // streaming candidates, verify in-pipeline, dedup only the sparse
    // survivor set — the candidate stream never sorts or aggregates
    val setsFor = hashJoinSide(sets, materializeShared)
    candidates
      .join(setsFor("ia", "__set_a"), "ia")
      .join(setsFor("ib", "__set_b"), "ib")
      .withColumn("__inter",
        graft.functions.SortedIntersectSize(col("__set_a"), col("__set_b")))
      .filter(col("__inter").cast("double") / col("sa") >= t)
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        col("__inter").as("shared"),
        round(col("__inter").cast("double") / col("sa"), 6).as("containment"))
      // shared/containment are pure functions of the pair — min() is the
      // deterministic picker across duplicate candidate rows
      .groupBy("id_a", "id_b").agg(min(col("shared")).as("shared"),
        min(col("containment")).as("containment"))
  }

  /** Winnowing (MOSS) near-dup pairs: each document keeps the distinct
    * window minima of its md5p61 shingle hashes (the
    * [[graft.functions.WinnowFingerprintP61]] one-pass expression —
    * guarantee: any shared run of ≥ k+w−1 tokens shares ≥ 1 fingerprint),
    * fingerprints explode into an inverted postings table, and a self
    * equi-join on the fingerprint counts shared prints per pair. Pairs
    * sharing ≥ `minShared` distinct fingerprints are reported.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] (postings equi-join,
    * no cross join) but over a signature ~2/(w+1) the size of the full
    * shingle index — winnowing IS the standard way to shrink the postings
    * table at corpus scale. `maxDocFreq` drops fingerprints occurring in
    * more than that many documents (boilerplate/stopword runs) — the
    * classic skew guard: a hot fingerprint contributes O(df²) join pairs,
    * so capping df bounds per-key join fan-out; 0 disables. */
  def winnowNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
                         k: Int = 3, w: Int = 4, minShared: Int = 2,
                         maxDocFreq: Int = 0,
                         materializeShared: Boolean = true): DataFrame = {
    val fps = docs.select(col(idCol).as("__id"),
      explode(graft.functions.WinnowFingerprintP61(
        Text.tokens(col(textCol)), k, w)).as("fp"))
    val kept0 =
      if (maxDocFreq <= 0) fps
      else fps.withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= maxDocFreq).drop("__df")
    // Both sides of the self-join read this subtree; without lineage
    // truncation each side re-hashes every document (the projections'
    // renames keep the two exchanges from canonicalizing to one —
    // verified: no ReusedExchange even with broadcast disabled). Same
    // seam as ngramJaccardSelfPairs: localCheckpoint locally, reliable
    // checkpoint under spark.graft.checkpointDir on a cluster.
    // materializeShared=false keeps the plan declarative (plan dumps).
    val kept =
      if (materializeShared) graft.io.Checkpoints.truncate(kept0, eager = false)
      else kept0
    kept.select(col("__id").as("id_a"), col("fp"))
      .join(kept.select(col("__id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact n-gram Jaccard similarity via an inverted shingle index — no
    * cross join at any scale. Both sides explode to (id, shingleHash, |set|)
    * postings; an equi-join on the shingle hash + count(*) per pair yields
    * |A∩B|, and |A∪B| = |A|+|B|−|A∩B|. Pairs sharing no shingle (jaccard 0)
    * never materialize. Work is O(postings + collisions), the standard
    * web-scale set-similarity-join shape.
    *
    * By default the postings join is a shuffled equi-join on the shingle
    * hash — both sides can be arbitrarily large (corpus × corpus works).
    * When the probe side is known-small (a bounded probe sweep), pass
    * `broadcastProbe = true` to stream the corpus postings through a
    * map-side join instead; forcing that unconditionally would OOM the
    * broadcast on a corpus-sized probe.
    *
    * jaccard = |A∩B| / |A∪B| over distinct k-shingle hash sets; identical
    * results to the naive all-pairs array_intersect formulation. */
  def ngramJaccardPairs(probe: DataFrame, corpus: DataFrame,
                        textCol: String, idCol: String,
                        k: Int = 3, threshold: Double = 0.3,
                        broadcastProbe: Boolean = false): DataFrame = {
    def prep(d: DataFrame, suffix: String) = d
      .select(col(idCol).as(s"id_$suffix"),
        array_distinct(Text.shingleHashes(Text.tokens(col(textCol)), k)).as("sh"))
      .withColumn(s"sz_$suffix", size(col("sh")))
      .withColumn("sh", explode(col("sh")))
    val a0 = prep(probe, "a")
    val a = if (broadcastProbe) broadcast(a0) else a0
    val b = prep(corpus, "b")
    a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
